package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EtlOps
import graft.sources.ParquetRead

/** §2.1 of SURVEY.md — the reference's ETL capabilities, re-expressed as
  * declarative Spark plans over the driver testdata.
  *
  * Oracle-parity rules used throughout (the driver hash-compares values):
  *   - Sums/avgs of doubles go through an exact DECIMAL accumulator and are
  *     cast back to DOUBLE, so the result is independent of partitioning and
  *     bit-identical between Spark and DuckDB.
  *   - Every windowed/ranked op has a unique deterministic tie-break column.
  */
object EtlQueries {
  import Tables._

  // Exact, order-independent aggregate of a double column.
  private def dsum(c: Column) =
    sum(c.cast("decimal(25,10)")).cast("double")

  /** Deterministic per-(prefix, dataset-dir, JVM) scratch dir, WIPED and
    * recreated on each call. The read-back queries (exports, upsert) need
    * disk scratch per build; a fresh createTempDirectory each build would
    * strand a data copy per Verify/Bench/canary walk and grow /tmp without
    * bound, while a shared fixed path would let two concurrent JVMs
    * clobber each other mid-build. md5 of the path, not String.hashCode —
    * a colliding OTHER dataset dir must not share scratch.
    */
  private[graft] def scratchDir(prefix: String, datasetDir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(datasetDir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val pid = ProcessHandle.current().pid()
    val f = new java.io.File(System.getProperty("java.io.tmpdir"), s"${prefix}_${key}_$pid")
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    f.toString
  }

  /** The USCRN text line of an events row: its four fields joined by
    * spaces. concat_ws silently SKIPS null fields (and an empty event_type
    * contributes nothing), which would shift every later field one slot
    * left and mis-parse the row instead of failing — so a null/empty field
    * fails loudly, naming `row` and the field, before serializing.
    */
  private[graft] def uscrnLine(row: String): Column = {
    def reqField(n: String) =
      when(col(n).isNull || col(n).cast("string") === "",
        raise_error(lit(s"$row: null/empty $n cannot round-trip a whitespace-joined line")))
        .otherwise(col(n).cast("string"))
    concat_ws(" ", Seq("event_id", "user_id", "event_type", "value").map(reqField): _*)
  }

  /** The USCRN parse: a (line) table split on whitespace and cast back to
    * (event_id, user_id, event_type, value).
    */
  private[graft] def parseUscrnLines(lines: DataFrame): DataFrame =
    lines
      .select(split(col("line"), "\\s+").as("f"))
      .select(
        element_at(col("f"), 1).cast("long").as("event_id"),
        element_at(col("f"), 2).cast("long").as("user_id"),
        element_at(col("f"), 3).as("event_type"),
        element_at(col("f"), 4).cast("double").as("value"))

  /** The USCRN station dimension (n_nationkey, station). */
  private[graft] def uscrnStations(s: SparkSession, d: String): DataFrame =
    nation(s, d).select(col("n_nationkey"), col("n_name").as("station"))

  /** The USCRN transform of parsed rows: the `stations` join (broadcast,
    * user_id % 25 = n_nationkey), the sentinel-guarded C→F conversion and
    * the composite-key (user_id, event_type) dedup, min event_id winning.
    */
  private[graft] def uscrnTransform(parsed: DataFrame, stations: DataFrame): DataFrame =
    EtlOps.dedupByKey(
      parsed
        .join(broadcast(stations), col("user_id") % 25 === col("n_nationkey"))
        .drop("n_nationkey")
        .withColumn("value_f", EtlOps.celsiusToFahrenheit(col("value"))),
      Seq("user_id", "event_type"),
      "event_id")

  /** The USCRN chain's end state in DuckDB — q_uscrn_e2e's oracle, and
    * q_stream_uscrn's: four incremental merges must land on the one-shot
    * batch table.
    */
  private[graft] val uscrnOracle: String =
    """WITH parsed AS (
      |  SELECT event_id, user_id, event_type, value FROM events),
      |joined AS (
      |  SELECT p.*, n.n_name AS station,
      |    CASE WHEN p.value > -90 THEN p.value * 9 / 5 + 32 ELSE p.value END AS value_f
      |  FROM parsed p JOIN nation n ON p.user_id % 25 = n.n_nationkey),
      |dedup AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY event_id) AS rn
      |    FROM joined) t
      |  WHERE rn = 1)
      |SELECT event_id, user_id, station, event_type, value, value_f,
      |  TIMESTAMP '2026-01-01 00:00:00' AS date_added_utc
      |FROM dedup ORDER BY event_id""".stripMargin

  /** Deterministic NWS forecast-page HTML for one station — the q_nws_e2e
    * fixture, built the q_sitemap_ingest way (generate the document in the
    * query from the dimension row, parse it with the REAL parser, state the
    * post-parse ground truth directly in the oracle). Shape mirrors the
    * reference's scraped pages (nws_dag.py:63-75, utils.py:180-232): two
    * nav tables first (the forecast table is found by DOCUMENT-ORDER index,
    * BeautifulSoup find_all semantics), a "Last Update:" provenance cell in
    * the page chrome (utils.py:174-188's exact normalization target), then
    * the LANDSCAPE table — each <tr> is a COLUMN (name cell + value cells),
    * cells are <font>-wrapped, a colspan divider row is skipped, the 48 h
    * forecast arrives as TWO halves whose repeated row names concatenate in
    * document order, the Date row is only populated on each half's first
    * record and at day changes (the _ff_list forward-fill target), gust has
    * ''-gaps (policy ''→0) and wind chill has ''-gaps (policy ''→NULL),
    * and the two halves OVERLAP by one record (the scrape-window overlap
    * the composite-key dedup collapses, nws_dag.py:173-180).
    *
    * All values are pure functions of (stationkey k, hour h) so the oracle
    * can restate them: temp = (k*7+h)%40-10, gust = ''@h%8==2 else
    * (k+h)%30+5, chill = ''@h%6==4 else (k*3+h)%20-10; hours 02..12 (day 1)
    * in half 0, 12..22 in half 1 with the day turning at h=18; the update
    * stamp minute is 10+k%50. Hour strings are zero-padded so their
    * lexical order IS the record order the forward fill needs.
    */
  private[graft] def nwsPageHtml(k: Int): String = {
    def temp(h: Int) = ((k * 7 + h) % 40 - 10).toString
    def gust(h: Int) = if (h % 8 == 2) "" else ((k + h) % 30 + 5).toString
    def chill(h: Int) = if (h % 6 == 4) "" else ((k * 3 + h) % 20 - 10).toString
    def dateCell(h: Int, first: Boolean) =
      if (first || h == 18) { if (h >= 18) "2024-01-02" else "2024-01-01" } else ""
    def half(hours: Seq[Int]): String = {
      def row(name: String, v: Int => String) =
        s"<tr><td><font>$name</font></td>" +
          hours.zipWithIndex.map { case (h, i) =>
            val cell = if (name == "Date") dateCell(h, i == 0) else v(h)
            s"<td><font>$cell</font></td>"
          }.mkString + "</tr>\n"
      row("Date", _ => "") +
        row("Hour (AKST)", h => f"$h%02d") +
        row("Temperature (&deg;F)", temp) +
        row("Gust (mph)", gust) +
        row("Wind Chill (&deg;F)", chill)
    }
    val divider = "<tr><td colspan=\"13\"><font>&nbsp;</font></td></tr>\n"
    val lastUpdate = s"Last Update: 2:${10 + k % 50} pm AKST Jan 1, 2024"
    "<html><body>\n" +
      "<table><tr><td>nav</td><td>chrome</td></tr></table>\n" +
      s"<table><tr><td>$lastUpdate</td><td>station chrome</td></tr></table>\n" +
      "<!-- forecast --><table>\n" +
      half(Seq(2, 4, 6, 8, 10, 12)) + divider + half(Seq(12, 14, 16, 18, 20, 22)) +
      "</table>\n</body></html>\n"
  }

  /** DuckDB spelling of EtlOps.mortonKey over the two layout dimensions —
    * ONE generator shared by the q_zorder_layout and q_skipping_stats
    * oracles so the morton convention can never silently diverge between
    * the layout report and its skipping-payoff report.
    */
  private def mortonTermsSql(bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(
        s"((((l_partkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((l_orderkey % 256) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  val all: Seq[Q] = Seq(
    // 1. Group-by aggregate rollup (TPC-H Q1 shape — the dashboard agg surface).
    Q(
      "q_agg_pricing",
      (s, d) => {
        // r17 note: a spreadScan here measured a wash (the spread's own
        // serial shuffle-write of the one scan partition ≈ the ~1.1 CPU-s
        // decimal agg it parallelizes) — left on the plain scan.
        val l = lineitem(s, d).filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        l.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order")
          )
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,10))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // 2. Predicate + projection — filters and column pruning reach the scan.
    Q(
      "q_filter_project",
      (s, d) =>
        lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") && col("l_discount") > 0.05)
          .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"),
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_discount > 0.05""".stripMargin)
    ),

    // 3. Dimension join (reference: wbanno × locations) — broadcast, no fact shuffle.
    Q(
      "q_dim_join",
      (s, d) =>
        customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "c_name", "n_name", "r_name"),
      Some("""SELECT c_custkey, c_name, n_name, r_name
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)
    ),

    // 4. Incremental extract past a watermark (reference: Last modified > last
    //    load). The cutoff is applied to the ts column in its NATIVE on-disk
    //    type so the predicate pushes to the parquet scan (PlanAuditSpec pins
    //    this); the timestamp normalization happens after the filter.
    Q(
      "q_incremental_watermark",
      (s, d) => {
        // Timezone-independent: the watermark is built from a UTC LocalDateTime
        // (Timestamp.valueOf would parse in the JVM default zone and shift it
        // on a non-UTC host while the DuckDB oracle stays naive-UTC).
        val wm = java.time.LocalDateTime.of(2024, 1, 20, 0, 0)
        val raw = eventsRaw(s, d)
        val pred = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // legacy int64-nanos footer: compare raw nanos, push the long.
            col("ts") > wm.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
          case org.apache.spark.sql.types.TimestampNTZType =>
            // µs footer: a naive-timestamp literal pushes natively.
            col("ts") > lit(wm)
          case _ =>
            col("ts") > lit(wm.toInstant(java.time.ZoneOffset.UTC))
        }
        Tables.normalizeTs(raw.filter(pred))
          .select("event_id", "ts", "user_id", "event_type", "value")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value
             |FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'""".stripMargin)
    ),

    // 5. Composite-key dedup with deterministic winner (min event_id).
    Q(
      "q_dedup_composite_key",
      (s, d) =>
        EtlOps
          .dedupByKey(events(s, d), Seq("user_id", "event_type"), "event_id")
          .select("event_id", "user_id", "event_type", "value"),
      Some("""SELECT event_id, user_id, event_type, value FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
             |  FROM events) t
             |WHERE rn = 1""".stripMargin)
    ),

    // 6. Floor-to-hour + mean (the wind hourly rollup), exact accumulator.
    Q(
      "q_hourly_rollup",
      (s, d) =>
        events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
          .agg(
            (dsum(col("value")) / count(lit(1))).as("avg_value"),
            count(lit(1)).as("n")
          ),
      Some("""SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             |  CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS avg_value,
             |  COUNT(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin)
    ),

    // 7. Sentinel-guarded unit conversion (C→F when > -90).
    Q(
      "q_unit_convert",
      (s, d) =>
        events(s, d).select(
          col("event_id"),
          col("value"),
          EtlOps.celsiusToFahrenheit(col("value")).as("value_f")
        ),
      Some("""SELECT event_id, value,
             |  CASE WHEN value > -90 THEN value * 9 / 5 + 32 ELSE value END AS value_f
             |FROM events""".stripMargin)
    ),

    // 8. Missing-value policy: sentinel→NULL, NULL→default (gust/wind_chill).
    Q(
      "q_missing_value_policy",
      (s, d) => {
        val nulled = when(col("event_type") === "error", lit(null)).otherwise(col("value"))
        events(s, d).select(
          col("event_id"),
          col("event_type"),
          nulled.as("cleaned_value"),
          coalesce(nulled, lit(0.0)).as("filled_value")
        )
      },
      Some("""SELECT event_id, event_type,
             |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS cleaned_value,
             |  COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0.0) AS filled_value
             |FROM events""".stripMargin)
    ),

    // 9. Fixed-offset timezone shift (AKST→UTC = +9h).
    Q(
      "q_timezone_shift",
      (s, d) =>
        events(s, d).select(
          col("event_id"),
          col("ts").as("lst_ts"),
          EtlOps.shiftHours(col("ts"), 9).as("utc_ts")
        ),
      Some("""SELECT event_id, ts AS lst_ts, ts + INTERVAL 9 HOUR AS utc_ts FROM events""")
    ),

    // 10. Timestamp from integer yyyymmdd + hhmm parts.
    Q(
      "q_datetime_build",
      (s, d) => {
        val o = orders(s, d)
        val yyyymmdd =
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
            dayofmonth(col("o_orderdate"))).cast("long")
        val hhmm = (col("o_orderkey") % 24 * 100 + col("o_orderkey") % 60).cast("long")
        o.select(
          col("o_orderkey"),
          EtlOps.timestampFromParts(yyyymmdd, hhmm).as("rebuilt_ts")
        )
      },
      Some("""SELECT o_orderkey,
             |  make_timestamp(CAST(year(o_orderdate) AS BIGINT), CAST(month(o_orderdate) AS BIGINT),
             |                 CAST(day(o_orderdate) AS BIGINT), o_orderkey % 24, o_orderkey % 60, 0)
             |    AS rebuilt_ts
             |FROM orders""".stripMargin)
    ),

    // 11. Column-header normalization (°()%→pct, lowercase, spaces→_).
    Q(
      "q_column_normalize",
      (s, d) =>
        EtlOps.normalizeColumns(
          events(s, d).select(
            col("event_id"),
            col("value").as("Temperature °F"),
            col("user_id").as("User ID"),
            col("props").as("Sky Cover (%)")
          )
        ),
      Some("""SELECT event_id, value AS temperature_f, user_id AS user_id, props AS sky_cover_pct
             |FROM events""".stripMargin)
    ),

    // 12. Regex column pruning (reference drops soil.*) — reaches ReadSchema.
    Q(
      "q_regex_prune",
      (s, d) => EtlOps.dropColumnsMatching(lineitem(s, d), "tax|discount|linestatus"),
      Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             |  l_extendedprice, l_returnflag, l_shipdate
             |FROM lineitem""".stripMargin)
    ),

    // 13. Bad-row quarantine (wind<0 or flag=3) — returns the quarantined side.
    Q(
      "q_quarantine",
      (s, d) =>
        EtlOps
          .quarantine(events(s, d), col("value") < 0 || col("event_type") === "error")
          ._2
          .select("event_id", "user_id", "event_type", "value"),
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events WHERE value < 0 OR event_type = 'error'""".stripMargin)
    ),

    // 14. Forward fill over an ordered window (reference: _ff_list on NWS dates).
    Q(
      "q_forward_fill",
      (s, d) => {
        val withGaps = events(s, d)
          .withColumn("v", when(col("event_type") === "click", lit(null)).otherwise(col("value")))
        EtlOps
          .forwardFill(withGaps, Seq("user_id"), "event_id", "v")
          .select(col("event_id"), col("user_id"), col("v").as("v_filled"))
      },
      Some("""SELECT event_id, user_id,
             |  last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM events""".stripMargin)
    ),

    // 15. Staging→main append with audit timestamp (fixed clock for determinism).
    Q(
      "q_audit_append",
      (s, d) =>
        EtlOps
          .withAudit(events(s, d), clock = lit("2026-01-01 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "user_id", "event_type", "value", "props", "date_added_utc"),
      Some("""SELECT event_id, ts, user_id, event_type, value, props,
             |  TIMESTAMP '2026-01-01 00:00:00' AS date_added_utc
             |FROM events""".stripMargin)
    ),

    // 15b. MERGE/upsert into main (StagingSink.upsertToMain): the
    //      update-in-place warehouse idiom the append-only staging→insert
    //      pattern cannot express. Scenario: main = snapshot of events
    //      before the Jan-20 cutoff; a revision batch from Jan-15 onward
    //      (overlap → updates with doubled values, tail → inserts) is
    //      upserted staged-wins. The whole MERGE — anti-join survivors,
    //      replacement rows, audit restamping — sits inside the oracle's
    //      keyed snapshot diff (main0 minus staged keys, union staged).
    Q(
      "q_upsert_merge",
      (s, d) => {
        // Deterministic scratch dir per (sf-dir, JVM), recreated on every
        // build: a fresh createTempDirectory here would strand a full copy
        // of the events table per build (Verify, Bench, and the canary's
        // registry walk each build this query), growing /tmp without
        // bound. Keyed by an md5 of the path (not String.hashCode — a
        // colliding OTHER dataset dir must not share scratch) plus the
        // JVM's pid, so two concurrent processes can't clobber each
        // other's in-flight merge.
        val base = EtlQueries.scratchDir("graft_upsert", d)
        val ev = events(s, d).select(col("event_id"), col("value"), col("ts"))
        val c1 = lit("2024-01-15 00:00:00").cast("timestamp")
        val c2 = lit("2024-01-20 00:00:00").cast("timestamp")
        val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
        val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
        graft.sources.StagingSink.stage(ev.filter(col("ts") < c2).drop("ts"), s"$base/staging0")
        graft.sources.StagingSink
          .mergeToMain(s, s"$base/staging0", s"$base/main", Seq("event_id"), clock = t0)
        // value * 2 is an exact double op — bit-identical cross-engine.
        graft.sources.StagingSink.stage(
          ev.filter(col("ts") >= c1).drop("ts").withColumn("value", col("value") * 2),
          s"$base/staging1")
        graft.sources.StagingSink
          .upsertToMain(s, s"$base/staging1", s"$base/main", Seq("event_id"), clock = t1)
        ParquetRead.load(s, s"$base/main")
          .select(col("event_id"), col("value"), col("date_added_utc"))
          .orderBy("event_id")
      },
      Some("""WITH main0 AS (
             |  SELECT event_id, value, TIMESTAMP '2026-01-01 00:00:00' AS date_added_utc
             |  FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
             |staged AS (
             |  SELECT event_id, value * 2 AS value, TIMESTAMP '2026-02-01 00:00:00' AS date_added_utc
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
             |SELECT event_id, value, date_added_utc FROM (
             |  SELECT * FROM main0 WHERE event_id NOT IN (SELECT event_id FROM staged)
             |  UNION ALL SELECT * FROM staged)
             |ORDER BY event_id""".stripMargin)
    ),

    // 16. Sorted export (final ORDER BY before load) with deterministic tie-break.
    Q(
      "q_sorted_export",
      (s, d) =>
        orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .limit(100),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
             |FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 100""".stripMargin)
    ),

    // 16b. CSV round-trip export (reference: notebooks/3_gcf_export.ipynb —
    //      query results → headered CSV; the reference's only egress
    //      format). The value WRITTEN and READ BACK through CSV is what the
    //      oracle checks, so the whole egress surface — header, separator,
    //      timestamp format, typed read-back — sits inside the gate.
    Q(
      "q_csv_export",
      (s, d) => {
        val out = EtlQueries.scratchDir("graft_csv_export", d)
        graft.sources.CsvExport.write(
          orders(s, d)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
            .filter(col("o_totalprice") > 200000.0),
          out,
          sortCols = Seq("o_orderkey"),
          singleFile = true
        )
        graft.sources.CsvExport.read(
          s,
          out,
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP"
        )
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM orders WHERE o_totalprice > 200000.0""".stripMargin)
    ),

    // 16b2. JSON-lines round-trip export — the corpus interchange format ML
    //       tooling exchanges (one object per line; the de-facto LLM
    //       training-data format). Same egress contract as the CSV/ORC
    //       siblings; the oracle checks the values as WRITTEN and READ
    //       BACK through jsonl, so number round-tripping (shortest-repr
    //       doubles), the microsecond timestamp format (the default
    //       truncates to millis — silent precision loss), and the
    //       FAILFAST typed read all sit inside the checked surface.
    Q(
      "q_json_export",
      (s, d) => {
        val out = EtlQueries.scratchDir("graft_json_export", d)
        graft.sources.JsonLines.write(
          orders(s, d)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
            .filter(col("o_totalprice") > 200000.0),
          out,
          sortCols = Seq("o_orderkey"),
          singleFile = true
        )
        graft.sources.JsonLines.read(
          s,
          out,
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP"
        )
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM orders WHERE o_totalprice > 200000.0""".stripMargin)
    ),

    // 16c. ORC round-trip export — the columnar interchange sibling of the
    //      CSV egress, for Hive/Trino lakes that don't speak parquet. The
    //      oracle checks the values as WRITTEN and READ BACK through ORC
    //      (zstd, stripe-sorted on the filter key), so compression codec,
    //      type mapping, and schema-checked read-back all sit inside the
    //      gate.
    Q(
      "q_orc_export",
      (s, d) => {
        val out = EtlQueries.scratchDir("graft_orc_export", d)
        graft.sources.OrcStore.write(
          orders(s, d)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
            .filter(col("o_totalprice") > 200000.0),
          out,
          sortCols = Seq("o_orderkey")
        )
        graft.sources.OrcStore.read(
          s,
          out,
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ"
        )
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM orders WHERE o_totalprice > 200000.0""".stripMargin)
    ),

    // 17. Typed schema enforcement (pd.to_numeric / BigQuery SchemaField).
    Q(
      "q_schema_cast",
      (s, d) =>
        EtlOps
          .castColumns(
            events(s, d).select(
              col("event_id"),
              col("event_id").as("event_id_int"),
              col("user_id").as("user_id_dbl"),
              col("user_id").as("user_id_str")
            ),
            Map("event_id_int" -> "int", "user_id_dbl" -> "double", "user_id_str" -> "string")
          ),
      Some("""SELECT event_id, CAST(event_id AS INTEGER) AS event_id_int,
             |  CAST(user_id AS DOUBLE) AS user_id_dbl, CAST(user_id AS VARCHAR) AS user_id_str
             |FROM events""".stripMargin)
    ),

    // 18. Distributed whitespace-text parse (USCRN .txt shape): round-trip
    //     rows through a single text line, then split + cast back.
    Q(
      "q_fixed_width_parse",
      (s, d) => {
        val line = concat_ws(" ", col("event_id"), col("user_id"), col("event_type"), col("value"))
        parseUscrnLines(events(s, d).select(line.as("line")))
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events""")
    ),

    // 19b. Deterministic hash sampling: keep rows whose key's md5 prefix
    //      falls under a threshold (~5.1%) — reproducible across engines,
    //      retries, and partitionings (unlike rand()-based sampling), and
    //      consistent per key so joins of two sampled tables still align.
    Q(
      "q_deterministic_sample",
      (s, d) =>
        lineitem(s, d)
          .filter(md5(concat(col("l_orderkey").cast("string"), lit("_"), col("l_linenumber").cast("string"))) < "0d")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)) < '0d'""".stripMargin)
    ),

    // 19. Semi-structured props parsing (the scraped-page JSON analogue).
    Q(
      "q_json_extract",
      (s, d) =>
        events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val")
        ),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
             |FROM events""".stripMargin)
    ),

    // 19b. Winsorization — per-group outlier clipping at exact p5/p95 (the
    //      robust-cleaning step between sentinel handling and normalization:
    //      sensor spikes and fat-finger prices get clamped, not dropped).
    //      One K-row exact-percentile aggregate broadcast back onto the
    //      fact scan — the fact side never shuffles; at 100 TB the same
    //      plan holds with approx_percentile (q_group_quantiles_approx's
    //      sketch) supplying the thresholds. percentile ≡ DuckDB
    //      quantile_cont bit-exactly (the q_group_quantiles equivalence).
    Q(
      "q_winsorize",
      (s, d) => {
        // Both quantiles from ONE percentile buffer (the aggregate builds a
        // per-group value histogram; two scalar calls would build it twice —
        // measured ~2× on the threshold aggregate at sf0.1).
        // spreadScan (r17): the percentile buffer build ran on the one scan
        // partition; spread the two columns it reads. No-op at scale.
        val stats = EtlOps
          .spreadScan(lineitem(s, d).select("l_returnflag", "l_extendedprice"))
          .groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.05D, 0.95D))").as("q"))
          .select(
            col("l_returnflag"),
            element_at(col("q"), 1).as("lo"),
            element_at(col("q"), 2).as("hi")
          )
        lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
          .join(broadcast(stats), "l_returnflag")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            col("l_returnflag"),
            col("l_extendedprice"),
            least(greatest(col("l_extendedprice"), col("lo")), col("hi")).as("clipped")
          )
      },
      Some("""WITH st AS (
             |  SELECT l_returnflag,
             |    quantile_cont(l_extendedprice, 0.05) AS lo,
             |    quantile_cont(l_extendedprice, 0.95) AS hi
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
             |  least(greatest(l_extendedprice, lo), hi) AS clipped
             |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag""".stripMargin)
    ),

    // 19c. Winsorization, the 100 TB form: thresholds from the
    //      approx_percentile sketch (mergeable, fixed size per group — the
    //      exact form's percentile buffer concentrates every group's full
    //      value set on one reducer, the known cost of exactness). Same
    //      K-row broadcast clip. Sketch thresholds aren't bit-reproducible
    //      in DuckDB, so the query is a banded exact-vs-sketch REPORT:
    //      each row carries its exact columns (cross-engine bit-checked)
    //      plus clipped_in_band — the sketch-clipped value bracketed by
    //      clipping at the exact ±2%-rank threshold bands ([q(.03),
    //      q(.07)] for lo, [q(.93), q(.97)] for hi; clip(x, lo, hi) is
    //      monotone in both thresholds, so bracketing thresholds bracket
    //      the clip). The oracle states the band claim as TRUE; a sketch
    //      threshold drifting out of band flips rows and fails the hash
    //      gate. QueryRegistrySpec additionally bounds the raw sketch
    //      thresholds against the exact sibling.
    Q(
      "q_winsorize_approx",
      (s, d) => {
        // spreadScan (r17): same serial percentile-buffer fix as q_winsorize.
        val stats = EtlOps
          .spreadScan(lineitem(s, d).select("l_returnflag", "l_extendedprice"))
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, array(0.05D, 0.95D), 10000)").as("qa"),
            expr("percentile(l_extendedprice, array(0.03D, 0.07D, 0.93D, 0.97D))").as("qe")
          )
          .select(
            col("l_returnflag"),
            element_at(col("qa"), 1).as("lo"),
            element_at(col("qa"), 2).as("hi"),
            element_at(col("qe"), 1).as("lo_lo"),
            element_at(col("qe"), 2).as("lo_hi"),
            element_at(col("qe"), 3).as("hi_lo"),
            element_at(col("qe"), 4).as("hi_hi")
          )
        val x = col("l_extendedprice")
        lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
          .join(broadcast(stats), "l_returnflag")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            col("l_returnflag"),
            col("l_extendedprice"),
            least(greatest(x, col("lo")), col("hi"))
              .between(
                least(greatest(x, col("lo_lo")), col("hi_lo")),
                least(greatest(x, col("lo_hi")), col("hi_hi")))
              .as("clipped_in_band")
          )
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
             |  TRUE AS clipped_in_band
             |FROM lineitem""".stripMargin)
    ),

    // 20. SCD type-2 interval build — the warehouse pattern for "what was
    // this key's value AT time t": each change event opens a validity
    // interval that the key's NEXT event closes (half-open [from, to)),
    // the latest staying open as current. One shuffle on the dimension
    // key (user_id — high cardinality, well distributed; per-key history
    // is bounded, so the window partition can't hot-spot the way a
    // low-cardinality stream key would). The ts tie-break is event_id —
    // fully deterministic. Downstream point-in-time joins become the
    // q_range_join / q_asof_join shapes over these intervals.
    Q(
      "q_scd2_intervals",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
        events(s, d)
          .select(
            col("user_id"),
            col("event_id"),
            col("value"),
            col("ts").as("valid_from")
          )
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
      },
      Some("""SELECT user_id, event_id, value, ts AS valid_from,
             |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
             |FROM events""".stripMargin)
    ),

    // 20b. SCD2 INCREMENTAL maintenance — the type-2 MERGE next to
    //      q_upsert_merge's type-1 (r14 verdict item 4): q_scd2_intervals
    //      builds a dimension from scratch; this applies a CHANGE BATCH to
    //      an EXISTING SCD2 dimension — close each batch key's open
    //      interval at the key's first new valid_from, insert the batch's
    //      chained new versions, leave closed history untouched. The
    //      existing dimension is materialized to parquet first and the
    //      merge derives ONLY from that read-back + the batch (the
    //      q_upsert_merge device — the old fact rows are provably never
    //      rescanned; the whole staged path sits inside the hash gate).
    //      Scale shape: the close pass is one partial-agg'd per-key
    //      min(valid_from) on the BATCH joined onto main (AQE-planned —
    //      broadcast when the day's batch is small, the common case); the
    //      batch chains in ITS OWN window (bounded per-key history, high-
    //      cardinality key); main rows rewrite copy-on-write — at 100 TB
    //      main is bucketed by key so only matched buckets rewrite
    //      (StagingSink's MERGE layout). Oracle: the merged end state must
    //      equal what a from-scratch rebuild over all events states — the
    //      convergence invariant that MAKES incremental maintenance
    //      correct (the q_stream_cdc device); the closed-history
    //      passthrough is additionally spec-pinned bit-level.
    Q(
      "q_scd2_apply",
      (s, d) => {
        val base = EtlQueries.scratchDir("graft_scd2", d)
        val c = lit("2024-01-20 00:00:00").cast("timestamp")
        val ev = events(s, d).select(col("user_id"), col("event_id"), col("value"), col("ts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
        def build(df: DataFrame) = df
          .select(col("user_id"), col("event_id"), col("value"), col("ts").as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
        build(ev.filter(col("ts") < c)).write.mode("overwrite").parquet(s"$base/dim")
        val main0 = ParquetRead.load(s, s"$base/dim")
        val batch = build(ev.filter(col("ts") >= c))
        val closes = batch.groupBy("user_id").agg(min(col("valid_from")).as("close_at"))
        main0
          .join(closes, Seq("user_id"), "left")
          .select(
            col("user_id"), col("event_id"), col("value"), col("valid_from"),
            when(col("is_current") && col("close_at").isNotNull, col("close_at"))
              .otherwise(col("valid_to")).as("valid_to"),
            (col("is_current") && col("close_at").isNull).as("is_current"))
          .unionAll(
            batch.select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current"))
          .write.mode("overwrite").parquet(s"$base/dim2")
        ParquetRead.load(s, s"$base/dim2").orderBy("user_id", "valid_from", "event_id")
      },
      Some("""SELECT user_id, event_id, value, ts AS valid_from,
             |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
             |FROM events ORDER BY user_id, valid_from, event_id""".stripMargin)
    ),

    // Hourly resampling with LINEAR INTERPOLATION — the sensor-series gap
    // repair one step past forward-fill (the reference's USCRN domain:
    // irregular station readings → a regular hourly grid). Each user's
    // grid points (integer-exact hour slots via DIV — no float ceil at
    // hour boundaries) union with their events; ONE shuffle on user_id,
    // one sort serving two frames (running last for the previous reading,
    // running first for the next), then the interpolation ratio in an
    // identical double tree on both engines. Events order before grid on
    // the tie key, so next > prev whenever next exists and the ratio
    // never divides by zero; a slot landing exactly on the LAST reading
    // has no next pair and coalesces to the previous (= exact) value; the
    // event_id tie-break keeps same-instant readings deterministic.
    // User/station cardinality grows with the data — no hot window key.
    Q(
      "q_resample_interpolate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hour = 3600000000L // µs
        val e = events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"), col("value"))
        val grid = e
          .groupBy("user_id")
          .agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
          .select(col("user_id"),
            expr(s"(lo + ${hour - 1}) DIV $hour").as("s0"),
            expr(s"hi DIV $hour").as("s1"))
          .filter(col("s0") <= col("s1"))
          .select(col("user_id"), explode(sequence(col("s0"), col("s1"))).as("slot"))
          .select(col("user_id"), (col("slot") * hour).as("tu"))
        val tagged = e
          .select(col("user_id"), col("tu"), col("event_id"), col("value"), lit(1).as("is_event"))
          .unionAll(grid.select(col("user_id"), col("tu"),
            lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
            lit(0).as("is_event")))
        // BOTH window frames are RUNNING (UnboundedPreceding..CurrentRow)
        // frames, which Spark evaluates in O(n) per partition; the "next
        // reading" runs over the REVERSED sort instead of a
        // CurrentRow..UnboundedFollowing frame, which Spark recomputes
        // per row — O(n²) per partition, measured 2× the whole query's
        // cost at sf0.1 and unbounded at a 100 TB partition. Same
        // exchange serves both sorts (hash partition on user_id).
        val prevW = Window
          .partitionBy(col("user_id"))
          .orderBy(col("tu"), col("is_event").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val nextW = Window
          .partitionBy(col("user_id"))
          .orderBy(col("tu").desc, col("is_event"), col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val evTu = when(col("is_event") === 1, col("tu"))
        tagged
          .withColumn("pv", last(col("value"), ignoreNulls = true).over(prevW))
          .withColumn("pt", last(evTu, ignoreNulls = true).over(prevW))
          .withColumn("nv", last(col("value"), ignoreNulls = true).over(nextW))
          .withColumn("nt", last(evTu, ignoreNulls = true).over(nextW))
          .filter(col("is_event") === 0)
          .select(
            col("user_id"),
            timestamp_micros(col("tu")).as("grid_ts"),
            // nt IS NULL: a grid slot landing EXACTLY on the user's last
            // reading sees no event at-or-after it in the reversed sort
            // (events order before grid on the tie key), so the "next"
            // pair is NULL — the slot still has an exact reading, carried
            // by pv. Identical CASE in the oracle.
            round(
              when(col("nt").isNull, col("pv"))
                .when(col("nt") === col("pt"), col("pv"))
                .otherwise(
                  col("pv") + (col("nv") - col("pv")) *
                    ((col("tu") - col("pt")).cast("double") / (col("nt") - col("pt")).cast("double"))
                ), 6).as("value_interp")
          )
          .orderBy("user_id", "grid_ts")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tu, value FROM events),
             |b AS (
             |  SELECT user_id, (MIN(tu) + 3599999999) // 3600000000 AS s0,
             |    MAX(tu) // 3600000000 AS s1
             |  FROM e GROUP BY user_id),
             |g AS (
             |  SELECT user_id, unnest(range(s0, s1 + 1)) * 3600000000 AS tu
             |  FROM b WHERE s0 <= s1),
             |u AS (
             |  SELECT user_id, tu, event_id, value, 1 AS is_event FROM e
             |  UNION ALL
             |  SELECT user_id, tu, NULL AS event_id, NULL AS value, 0 AS is_event FROM g),
             |w AS (
             |  SELECT *,
             |    last_value(value IGNORE NULLS) OVER pw AS pv,
             |    last_value(CASE WHEN is_event = 1 THEN tu END IGNORE NULLS) OVER pw AS pt,
             |    first_value(value IGNORE NULLS) OVER nw AS nv,
             |    first_value(CASE WHEN is_event = 1 THEN tu END IGNORE NULLS) OVER nw AS nt
             |  FROM u
             |  WINDOW
             |    pw AS (PARTITION BY user_id ORDER BY tu, is_event DESC, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    nw AS (PARTITION BY user_id ORDER BY tu, is_event DESC, event_id
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, make_timestamp(tu) AS grid_ts,
             |  round(CASE WHEN nt IS NULL THEN pv
             |    WHEN nt = pt THEN pv
             |    ELSE pv + (nv - pv) * (CAST(tu - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
             |  END, 6) AS value_interp
             |FROM w WHERE is_event = 0
             |ORDER BY user_id, grid_ts""".stripMargin)
    ),

    // 21. Small-files compaction PLAN — the metadata half of
    //     StagingSink.compact: sequential (coalesce-style) packing of the
    //     staged-file inventory into ≥4000-byte output bins per source,
    //     exact integers, order preserved. The inventory here is derived
    //     (documents grouped into per-source micro-batch "files" keyed by
    //     doc_id DIV 32 — the incremental-load shape: many small appends
    //     per source); a real deployment feeds the parquet footer listing.
    //     At 100 TB the inventory is ~10⁶ rows (files, not data rows), so
    //     the per-source window is metadata-cheap; the data files never
    //     flow through this plan.
    Q(
      "q_compaction_plan",
      (s, d) => {
        val files = documents(s, d)
          .groupBy(col("source"), expr("doc_id DIV 32").as("file_grp"))
          .agg(sum(col("n_chars")).as("file_bytes"), count(lit(1)).as("n_docs"))
        EtlOps.compactionPlan(files, Seq("source"), "file_grp", "file_bytes", 4000L)
      },
      Some("""WITH files AS (
             |  SELECT source, doc_id // 32 AS file_grp,
             |         CAST(SUM(n_chars) AS BIGINT) AS file_bytes, COUNT(*) AS n_docs
             |  FROM documents GROUP BY 1, 2),
             |c AS (
             |  SELECT source, file_grp, file_bytes, n_docs,
             |         SUM(file_bytes) OVER (PARTITION BY source ORDER BY file_grp
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - file_bytes AS cstart
             |  FROM files)
             |SELECT source, file_grp, file_bytes, n_docs,
             |       CAST(cstart // 4000 AS BIGINT) AS bin
             |FROM c""".stripMargin)
    ),

    // 21b. Snapshot-retention / VACUUM planner — the third member of the
    //     table-maintenance family (compaction → layout → retention; the
    //     Delta VACUUM + time-travel-retention idiom): over the file
    //     INVENTORY, each (source, slot) holds versioned files; only the
    //     LATEST version is referenced by the current snapshot. Files
    //     that are superseded AND older than the 7-day retention window
    //     (against the inventory's own watermark — no wall clock, the
    //     audit-determinism rule) plan as 'delete'; superseded-but-recent
    //     files plan as 'retain_tt' (still reachable by time travel);
    //     active files 'keep'. Same scale contract as q_compaction_plan:
    //     the planner's input is ~10⁶ inventory rows at 100 TB — one
    //     partial-agg'd active-version rollup joined back (inventory-
    //     sized, AQE broadcasts it) + a 1-row watermark broadcast; data
    //     files never flow through the plan.
    Q(
      "q_vacuum_plan",
      (s, d) => {
        val files = documents(s, d)
          .groupBy(col("source"), expr("doc_id DIV 32").as("file_grp"))
          .agg(sum(col("n_chars")).as("file_bytes"))
          .select(
            col("source"),
            expr("file_grp DIV 4").as("slot"),
            (col("file_grp") % 4).as("version"),
            col("file_bytes"),
            ((col("file_grp") * 7) % 30).as("created_day"))
        val wm = files.agg(max(col("created_day")).as("wm_day"))
        val active = files
          .groupBy("source", "slot")
          .agg(max(col("version")).as("active_version"))
        files
          .join(active, Seq("source", "slot"))
          .crossJoin(broadcast(wm))
          .select(
            col("source"),
            col("slot"),
            col("version"),
            col("file_bytes"),
            col("created_day"),
            when(col("version") === col("active_version"), "keep")
              .when(col("created_day") < col("wm_day") - 7, "delete")
              .otherwise("retain_tt")
              .as("verdict"))
          .orderBy("source", "slot", "version")
      },
      Some("""WITH files AS (
             |  SELECT source, doc_id // 32 AS file_grp,
             |         CAST(SUM(n_chars) AS BIGINT) AS file_bytes
             |  FROM documents GROUP BY 1, 2),
             |v AS (
             |  SELECT source, file_grp // 4 AS slot, file_grp % 4 AS version,
             |         file_bytes, (file_grp * 7) % 30 AS created_day
             |  FROM files),
             |wm AS (SELECT MAX(created_day) AS wm_day FROM v),
             |a AS (SELECT source, slot, MAX(version) AS active_version FROM v GROUP BY 1, 2)
             |SELECT v.source, v.slot, v.version, v.file_bytes, v.created_day,
             |  CASE WHEN v.version = a.active_version THEN 'keep'
             |       WHEN v.created_day < wm.wm_day - 7 THEN 'delete'
             |       ELSE 'retain_tt' END AS verdict
             |FROM v JOIN a ON v.source = a.source AND v.slot = a.slot, wm
             |ORDER BY v.source, v.slot, v.version""".stripMargin)
    ),

    // 21c. Time-travel READ — the query the retention planner above plans
    //     FOR: reconstruct the table snapshot AS OF a past day from the
    //     SAME versioned file inventory as q_vacuum_plan. The two queries
    //     together state the maintenance contract from both sides: this
    //     read's as-of lag (10 days) deliberately EXCEEDS the vacuum's
    //     7-day retention, and on this inventory half the picks land on
    //     files the vacuum plans as 'delete' — i.e. a deployment must set
    //     retention ≥ its supported time-travel horizon or reads like
    //     this one break (the Delta VACUUM footgun, made measurable). Per
    //     (source, slot), the snapshot's file is the LATEST one created at
    //     or before the as-of day (created_day DESC, version DESC — the
    //     SCD2-read rule restated on the file ledger); slots whose first
    //     file postdates the as-of day are absent (they didn't exist
    //     yet). The as-of point derives from the inventory's own
    //     watermark (max(created_day) − 10 — no wall clock, the
    //     audit-determinism rule). Scale shape, shared with the rest of
    //     the maintenance family: the inventory is ~10⁶ rows at 100 TB;
    //     one 1-row as-of broadcast, one partial-agg'd groupBy where the
    //     picked file rides the aggregate as max(struct(...)) — no
    //     window over the inventory, no second join, and the data files
    //     never flow through the plan.
    Q(
      "q_time_travel",
      (s, d) => {
        val files = documents(s, d)
          .groupBy(col("source"), expr("doc_id DIV 32").as("file_grp"))
          .agg(sum(col("n_chars")).as("file_bytes"))
          .select(
            col("source"),
            expr("file_grp DIV 4").as("slot"),
            (col("file_grp") % 4).as("version"),
            col("file_bytes"),
            ((col("file_grp") * 7) % 30).as("created_day"))
        val asof = files.agg((max(col("created_day")) - 10L).as("asof_day"))
        files
          .crossJoin(broadcast(asof))
          .filter(col("created_day") <= col("asof_day"))
          .groupBy(col("source"), col("slot"), col("asof_day"))
          .agg(max(struct(col("created_day"), col("version"), col("file_bytes"))).as("pick"))
          .select(
            col("source"),
            col("slot"),
            col("pick.version").as("version"),
            col("pick.file_bytes").as("file_bytes"),
            col("pick.created_day").as("created_day"),
            col("asof_day"))
          .orderBy("source", "slot")
      },
      Some("""WITH files AS (
             |  SELECT source, doc_id // 32 AS file_grp,
             |         CAST(SUM(n_chars) AS BIGINT) AS file_bytes
             |  FROM documents GROUP BY 1, 2),
             |v AS (
             |  SELECT source, file_grp // 4 AS slot, file_grp % 4 AS version,
             |         file_bytes, (file_grp * 7) % 30 AS created_day
             |  FROM files),
             |a AS (SELECT MAX(created_day) - 10 AS asof_day FROM v),
             |e AS (SELECT v.*, a.asof_day FROM v, a WHERE v.created_day <= a.asof_day),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source, slot
             |        ORDER BY created_day DESC, version DESC) AS rk FROM e)
             |SELECT source, slot, version, file_bytes, created_day, asof_day
             |FROM r WHERE rk = 1 ORDER BY source, slot""".stripMargin)
    ),

    // 22. Z-order layout report — multi-dimensional data clustering (the
    //     Delta/Iceberg OPTIMIZE ZORDER idiom): morton-interleave the low
    //     8 bits of two dimension keys, bucket by the top z-bits, and
    //     report each bucket's span in BOTH source dimensions. The morton
    //     property the spec pins: 64 z-buckets over 8+8 bits ⇒ every
    //     bucket spans ≤ 32 values in each dimension (vs 256 for a layout
    //     sorted on either key alone) — so min/max file stats prune scans
    //     filtered on EITHER column. The report is one partial-agg shuffle
    //     on a bounded (≤64-value) key; the physical layout twin
    //     (EtlOps.zorderLayout) range-partitions by zval and is
    //     plan-pinned separately.
    Q(
      "q_zorder_layout",
      (s, d) => {
        val z = EtlOps.mortonKey(expr("l_partkey % 256"), expr("l_orderkey % 256"), 8)
        lineitem(s, d)
          .select(
            expr("l_partkey % 256").as("px"),
            expr("l_orderkey % 256").as("ox"),
            z.as("zval"))
          .groupBy(expr("zval DIV 1024").as("z_bucket"))
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("px")).as("px_min"), max(col("px")).as("px_max"),
            min(col("ox")).as("ox_min"), max(col("ox")).as("ox_max"),
            min(col("zval")).as("z_min"), max(col("zval")).as("z_max"))
      },
      Some(
        s"""WITH z AS (
           |  SELECT l_partkey % 256 AS px, l_orderkey % 256 AS ox,
           |         (${mortonTermsSql(8)}) AS zval
           |  FROM lineitem)
           |SELECT zval // 1024 AS z_bucket, COUNT(*) AS n_rows,
           |       MIN(px) AS px_min, MAX(px) AS px_max,
           |       MIN(ox) AS ox_min, MAX(ox) AS ox_max,
           |       MIN(zval) AS z_min, MAX(zval) AS z_max
           |FROM z GROUP BY 1""".stripMargin)
    ),

    // 23. Data-skipping effectiveness report — the quantified payoff of
    //     q_zorder_layout: for a two-dimensional box predicate
    //     (px ∈ [64, 95] ∧ sx ∈ [128, 159]), how many files (and rows)
    //     can min/max footer stats skip under each candidate layout?
    //     A file is skippable when its [min, max] range is disjoint from
    //     the predicate on EITHER dimension — exactly the parquet
    //     row-group / Delta file-stat pruning rule. Layouts compared on
    //     identical 64-file budgets: morton z-buckets (bounded spans in
    //     BOTH dims) vs a single-key px sort (perfect on px, blind on
    //     sx). The report is the planning artifact a table-maintenance
    //     job uses to decide whether an OPTIMIZE ZORDER rewrite pays for
    //     itself; all arithmetic integer-exact, one scan per layout over
    //     the same two pruned columns.
    Q(
      "q_skipping_stats",
      (s, d) => {
        val z = EtlOps.mortonKey(expr("l_partkey % 256"), expr("l_orderkey % 256"), 8)
        val base = lineitem(s, d).select(
          expr("l_partkey % 256").as("px"),
          expr("l_orderkey % 256").as("ox"),
          z.as("zval"))
        def layoutReport(name: String, fileKey: Column) = {
          val files = base
            .groupBy(fileKey.as("f"))
            .agg(
              count(lit(1)).as("n_rows"),
              min(col("px")).as("px_min"), max(col("px")).as("px_max"),
              min(col("ox")).as("ox_min"), max(col("ox")).as("ox_max"))
          val skippable = col("px_max") < 64 || col("px_min") > 95 ||
            col("ox_max") < 128 || col("ox_min") > 159
          files.agg(
            lit(name).as("layout"),
            count(lit(1)).as("n_files"),
            sum(when(skippable, 1L).otherwise(0L)).as("files_skipped"),
            sum(when(skippable, col("n_rows")).otherwise(0L)).as("rows_skipped"),
            sum(col("n_rows")).as("n_rows_total"))
        }
        layoutReport("zorder", expr("zval DIV 1024"))
          .unionAll(layoutReport("px_sorted", expr("px DIV 4")))
      },
      Some(
        s"""WITH b AS (
           |  SELECT l_partkey % 256 AS px, l_orderkey % 256 AS ox,
           |         (${mortonTermsSql(8)}) AS zval
           |  FROM lineitem),
           |zf AS (
           |  SELECT zval // 1024 AS f, COUNT(*) AS n_rows,
           |         MIN(px) AS px_min, MAX(px) AS px_max,
           |         MIN(ox) AS ox_min, MAX(ox) AS ox_max
           |  FROM b GROUP BY 1),
           |pf AS (
           |  SELECT px // 4 AS f, COUNT(*) AS n_rows,
           |         MIN(px) AS px_min, MAX(px) AS px_max,
           |         MIN(ox) AS ox_min, MAX(ox) AS ox_max
           |  FROM b GROUP BY 1)
           |SELECT 'zorder' AS layout, COUNT(*) AS n_files,
           |  CAST(SUM(CASE WHEN px_max < 64 OR px_min > 95 OR ox_max < 128 OR ox_min > 159 THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
           |  CAST(SUM(CASE WHEN px_max < 64 OR px_min > 95 OR ox_max < 128 OR ox_min > 159 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
           |  CAST(SUM(n_rows) AS BIGINT) AS n_rows_total
           |FROM zf
           |UNION ALL
           |SELECT 'px_sorted', COUNT(*),
           |  CAST(SUM(CASE WHEN px_max < 64 OR px_min > 95 OR ox_max < 128 OR ox_min > 159 THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(SUM(CASE WHEN px_max < 64 OR px_min > 95 OR ox_max < 128 OR ox_min > 159 THEN n_rows ELSE 0 END) AS BIGINT),
           |  CAST(SUM(n_rows) AS BIGINT)
           |FROM pf""".stripMargin)
    ),

    // Anonymity audit — the PRIVACY/compliance gate next to q_redact_pii's
    // redaction (redaction scrubs direct identifiers; this measures
    // RE-IDENTIFICATION risk through quasi-identifiers): k-anonymity (every
    // equivalence class over the quasi-identifier tuple must hold ≥ k
    // individuals — Sweeney 2002) and l-diversity (each class must carry ≥
    // l distinct sensitive values — Machanavajjhala 2007, closing the
    // homogeneity attack k-anonymity misses: a class of 50 people all
    // sharing one account-balance band is k-safe and still leaks). Quasi
    // identifiers = (nation, market segment); sensitive = the acctbal band.
    // The report is the release-gate artifact: per class, its size, its
    // sensitive diversity, and both risk flags — on this corpus 35 of 125
    // classes fail k=10 at sf0.01, so the gate demonstrably fires. Scale
    // shape: ONE partial-agg'd groupBy over the quasi tuple carrying both
    // the count and the distinct-sensitive count (two-phase distinct inside
    // the same aggregation) — class cardinality is the quasi domain, never
    // the population; suppression/generalization acts on this table.
    Q(
      "q_anonymity_audit",
      (s, d) => {
        val band = floor(col("c_acctbal") / 2000.0).cast("long")
        customer(s, d)
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(
            count(lit(1)).as("class_size"),
            countDistinct(band).as("l_diversity"))
          .select(
            col("c_nationkey"), col("c_mktsegment"),
            col("class_size"), col("l_diversity"),
            (col("class_size") < 10).as("k_risk"),
            (col("l_diversity") < 3).as("l_risk"))
          .orderBy("c_nationkey", "c_mktsegment")
      },
      Some("""SELECT c_nationkey, c_mktsegment,
             |  CAST(COUNT(*) AS BIGINT) AS class_size,
             |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS BIGINT)
             |    AS l_diversity,
             |  COUNT(*) < 10 AS k_risk,
             |  COUNT(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) < 3 AS l_risk
             |FROM customer
             |GROUP BY 1, 2
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)
    ),

    // Differentially-private count release (r16 — the privacy family's
    // third leg: q_redact_pii scrubs direct identifiers, q_anonymity_audit
    // measures re-identification risk, and THIS releases aggregate
    // statistics under the Laplace mechanism, Dwork 2006: count queries
    // have sensitivity 1, so noise ~ Laplace(1/ε) gives ε-DP). The
    // mechanism under test is the CALIBRATION arithmetic: a uniform draw
    // inverse-CDF'd into Laplace noise (−b·sign(u−½)·ln(1−2|u−½|)), the
    // fixed-point 1e-9 rounding discipline so both engines agree to the
    // released digit, and the small-count SUPPRESSION gate (classes under
    // 25 release NULL — noise alone cannot protect a count of 2).
    // HONESTY NOTE, stated plainly: the uniform here is seeded from
    // md5(event_type) so the release is deterministic and
    // oracle-checkable; a hash of the data is NOT randomness, so this
    // exact registered form is not ε-DP — a production release swaps the
    // seed for fresh per-release randomness (rand() in the same
    // expression slot) and everything else — calibration, fixed-point,
    // suppression — ships unchanged. The same test-mode-determinism split
    // every learned operator here uses. Scale: ONE bounded-K rollup; the
    // fp product caps at ~9.2e9 rows per class (long overflow), far past
    // any per-type count this corpus or its 100 TB scale-up reaches.
    Q(
      "q_dp_counts",
      (s, d) => {
        // A planted 3-row rare class makes the suppression gate
        // DEMONSTRABLY fire at every scale factor (the q_anonymity_audit
        // "the gate actually fires" discipline).
        val counts = events(s, d)
          .select(col("event_type"))
          .unionAll(s.range(3).select(lit("zz_planted_rare").as("event_type")))
          .groupBy("event_type").agg(count(lit(1)).as("n_true"))
        val v = conv(substring(md5(col("event_type")), 1, 6), 16, 10).cast("long")
        val u = (v.cast("double") + lit(0.5)) / lit(16777216.0)
        val c = u - lit(0.5)
        val noise = -lit(1.0) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
        val noiseFp = round(noise * lit(1.0e9), 0).cast("long")
        val releasedFp = col("n_true") * lit(1000000000L) + noiseFp
        counts
          .select(
            col("event_type"),
            lit(1.0).as("epsilon"),
            when(col("n_true") >= 25,
              round(releasedFp.cast("double") / lit(1.0e9), 6)).as("n_released"),
            (col("n_true") < 25).as("suppressed"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
             |  FROM (SELECT event_type FROM events
             |        UNION ALL SELECT 'zz_planted_rare' FROM range(3)) u
             |  GROUP BY 1),
             |m AS (
             |  SELECT event_type, n_true,
             |    (CAST(CAST('0x' || substr(md5(event_type), 1, 6) AS BIGINT) AS DOUBLE) + 0.5)
             |      / 16777216.0 - 0.5 AS ctr
             |  FROM c),
             |n AS (
             |  SELECT event_type, n_true,
             |    CAST(round(-1.0 * sign(ctr) * ln(1.0 - 2.0 * abs(ctr)) * 1.0e9) AS BIGINT)
             |      AS noise_fp
             |  FROM m)
             |SELECT event_type, 1.0 AS epsilon,
             |  CASE WHEN n_true >= 25
             |       THEN round(CAST(n_true * 1000000000 + noise_fp AS DOUBLE) / 1.0e9, 6)
             |       END AS n_released,
             |  n_true < 25 AS suppressed
             |FROM n ORDER BY event_type""".stripMargin)
    ),

    // Differentially-private SUM release — the DP family's SENSITIVITY leg
    // (r16 verdict item 5; q_dp_counts has sensitivity 1 by construction —
    // a SUM's sensitivity is whatever ONE individual can contribute, so
    // the mechanism is only sound after per-row contribution CLAMPING:
    // clamp to [0, 100], sensitivity Δ = 100, noise ~ Laplace(Δ/ε) — Dwork
    // 2006, the same inverse-CDF calibration as q_dp_counts with b scaled
    // by the clamp bound). The clamp DEMONSTRABLY binds at every scale
    // factor: the events fixture carries values past 100 at sf0.001+ (hi
    // clamp) and negative values on the canary fixture (lo clamp), and
    // n_clamped is reported per class as the AUDIT column — an exact count
    // that is diagnostics for this gate, not part of the DP release (a
    // production release drops it or noises it separately). Suppression
    // (n < 25 releases NULL) rides the same planted 3-row rare class as
    // q_dp_counts so the gate fires at every SF. Same HONESTY NOTE as
    // q_dp_counts, stated plainly: the md5-seeded uniform makes the
    // release deterministic and oracle-checkable, which is NOT ε-DP — the
    // production swap is fresh randomness in the same expression slot;
    // calibration, clamping, fixed-point, and suppression ship unchanged.
    // Scale: ONE bounded-K rollup carrying the fixed-point clamped sum,
    // the count, and the clamp-audit count in the same partial aggregation.
    Q(
      "q_dp_sum",
      (s, d) => {
        val clamped = greatest(least(col("value"), lit(100.0)), lit(0.0))
        val sums = events(s, d)
          .select(col("event_type"), col("value"))
          .unionAll(s.range(3).select(
            lit("zz_planted_rare").as("event_type"), lit(1.0).as("value")))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_true"),
            // Per-row fixed point BEFORE the aggregate: round(clamp·1e9)
            // is an exact long per row (both engines do the identical
            // IEEE multiply + round), and a long SUM is exact and
            // order-free — no decimal×bigint precision games later.
            sum(round(clamped * lit(1.0e9), 0).cast("long")).as("sum_fp"),
            sum(when(col("value") < 0 || col("value") > 100, 1L).otherwise(0L)).as("n_clamped"))
        // Laplace(Δ/ε) with Δ = 100 (the clamp bound), ε = 1 — decorrelated
        // from q_dp_counts' draw by the 'sum|' seed prefix.
        val v = conv(substring(md5(concat(lit("sum|"), col("event_type"))), 1, 6), 16, 10).cast("long")
        val u = (v.cast("double") + lit(0.5)) / lit(16777216.0)
        val c = u - lit(0.5)
        val noise = -lit(100.0) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
        val noiseFp = round(noise * lit(1.0e9), 0).cast("long")
        val releasedFp = col("sum_fp") + noiseFp
        sums
          .select(
            col("event_type"),
            lit(1.0).as("epsilon"),
            lit(0.0).as("clamp_lo"),
            lit(100.0).as("clamp_hi"),
            col("n_clamped"),
            when(col("n_true") >= 25,
              round(releasedFp.cast("double") / lit(1.0e9), 6)).as("sum_released"),
            (col("n_true") < 25).as("suppressed"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true,
             |    CAST(SUM(CAST(round(greatest(least(value, 100.0), 0.0) * 1.0e9) AS BIGINT))
             |      AS BIGINT) AS sum_fp,
             |    CAST(SUM(CASE WHEN value < 0 OR value > 100 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_clamped
             |  FROM (SELECT event_type, value FROM events
             |        UNION ALL SELECT 'zz_planted_rare', 1.0 FROM range(3)) u
             |  GROUP BY 1),
             |m AS (
             |  SELECT event_type, n_true, sum_fp, n_clamped,
             |    (CAST(CAST('0x' || substr(md5('sum|' || event_type), 1, 6) AS BIGINT) AS DOUBLE)
             |      + 0.5) / 16777216.0 - 0.5 AS ctr
             |  FROM c),
             |n AS (
             |  SELECT event_type, n_true, sum_fp, n_clamped,
             |    CAST(round(-100.0 * sign(ctr) * ln(1.0 - 2.0 * abs(ctr)) * 1.0e9) AS BIGINT)
             |      AS noise_fp
             |  FROM m)
             |SELECT event_type, 1.0 AS epsilon, 0.0 AS clamp_lo, 100.0 AS clamp_hi, n_clamped,
             |  CASE WHEN n_true >= 25
             |       THEN round(CAST(sum_fp + noise_fp AS DOUBLE) / 1.0e9, 6)
             |       END AS sum_released,
             |  n_true < 25 AS suppressed
             |FROM n ORDER BY event_type""".stripMargin)
    ),

    // Data-quality constraint suite (the Deequ/Great-Expectations shape):
    // a declarative set of table constraints evaluated in ONE pass and
    // reported as (check, compliance metric, threshold, verdict) rows —
    // the gate a warehouse load runs before promoting a batch. Every
    // metric is a compliance FRACTION in [0, 1] against threshold 1.0
    // (uniform semantics; Deequ's convention), so a failing check
    // carries its violation rate, not just a boolean. Scale shape: five
    // of the six checks ride ONE partial-agg'd full scan (conditional
    // sums — no per-check scans, the way naive validators burn 6× the
    // I/O); uniqueness adds the unavoidable distinct on the key pair
    // (two-phase, partial-agg'd); referential integrity is a LEFT ANTI
    // count against orders (plain equi-join — broadcastable when the
    // parent's keys fit, shuffle otherwise, never row-multiplying). The
    // three 1-row aggregates cross-join into one 6-row report. On this
    // data: uniqueness FAILS (the synthetic lineitem reuses
    // (l_orderkey, l_linenumber)) and the 0.08 discount cap FAILS
    // (discounts run to 0.10) — the report proves it actually fires.
    Q(
      "q_dq_checks",
      (s, d) => EtlOps.dqChecks(lineitem(s, d), orders(s, d)),
      Some("""WITH m AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
             |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_ship,
             |    CAST(COUNT(DISTINCT concat_ws('|',
             |      coalesce(CAST(l_orderkey AS VARCHAR), '~'),
             |      coalesce(CAST(l_linenumber AS VARCHAR), '~'))) AS DOUBLE) AS n_key,
             |    CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS DOUBLE) AS disc_viol,
             |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS DOUBLE) AS flag_viol,
             |    CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS price_viol
             |  FROM lineitem),
             |o AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS orphan_rows
             |  FROM lineitem l LEFT JOIN orders ON l.l_orderkey = o_orderkey
             |  WHERE o_orderkey IS NULL)
             |SELECT * FROM (
             |  SELECT 'completeness_l_shipdate' AS check_name, 1.0 - null_ship / n_rows AS metric,
             |    CAST(1.0 AS DOUBLE) AS threshold, null_ship = 0 AS passed FROM m
             |  UNION ALL
             |  SELECT 'uniqueness_orderkey_linenumber', n_key / n_rows, 1.0, n_key = n_rows FROM m
             |  UNION ALL
             |  SELECT 'range_l_discount_le_0.08', 1.0 - disc_viol / n_rows, 1.0, disc_viol = 0 FROM m
             |  UNION ALL
             |  SELECT 'set_l_returnflag', 1.0 - flag_viol / n_rows, 1.0, flag_viol = 0 FROM m
             |  UNION ALL
             |  SELECT 'nonneg_l_extendedprice', 1.0 - price_viol / n_rows, 1.0, price_viol = 0 FROM m
             |  UNION ALL
             |  SELECT 'referential_l_orderkey', 1.0 - orphan_rows / (SELECT n_rows FROM m), 1.0, orphan_rows = 0 FROM o
             |) ORDER BY check_name""".stripMargin)
    ),

    // Schema-drift detection — the metadata gate between q_dq_checks and a
    // staging→main load: diff the incoming batch's ACTUAL parquet-footer
    // schema against main's and report added / dropped / type-changed /
    // unchanged per column, so an upstream producer change is caught
    // BEFORE a load corrupts or fails mid-write (the reference's typed
    // schema load, nws_dag.py, assumes the shape; this checks it). The
    // drifted batch is synthesized through a REAL write→read round trip
    // (props dropped, value narrowed double→float, session_id added), so
    // the Spark side diffs footer-derived StructTypes — a wrong reader
    // schema, a silent cast, or a diff bug flips the hash against the
    // oracle's stated ground truth. Schema diffing is driver-side BY
    // NATURE (schemas are bounded metadata — the q_compaction_plan rule:
    // the report's input is O(columns), never the data); type names are
    // emitted only for type_changed rows, keeping the report invariant to
    // the testdata ts-flavor drift the events canary tracks.
    Q(
      "q_schema_drift",
      (s, d) => {
        import s.implicits._
        val mainSchema = ParquetRead.schema(s, s"$d/events.parquet")
        val scratch = scratchDir("graft_drift", d)
        eventsRaw(s, d)
          .limit(1000)
          .drop("props")
          .withColumn("value", col("value").cast("float"))
          .withColumn("session_id", lit("s0"))
          .write
          .mode("overwrite")
          .parquet(s"$scratch/batch")
        val batchSchema = ParquetRead.schema(s, s"$scratch/batch")
        val m = mainSchema.fields.map(f => f.name -> f.dataType.simpleString).toMap
        val b = batchSchema.fields.map(f => f.name -> f.dataType.simpleString).toMap
        val rows = (m.keySet ++ b.keySet).toSeq.sorted.map { c =>
          (m.get(c), b.get(c)) match {
            case (Some(_), None) => (c, "dropped", None: Option[String], None: Option[String])
            case (None, Some(_)) => (c, "added", None: Option[String], None: Option[String])
            case (Some(t0), Some(t1)) if t0 != t1 => (c, "type_changed", Some(t0), Some(t1))
            case _ => (c, "unchanged", None: Option[String], None: Option[String])
          }
        }
        rows.toDF("column_name", "status", "main_type", "batch_type")
      },
      Some("""SELECT * FROM (VALUES
             |  ('event_id', 'unchanged', NULL, NULL),
             |  ('event_type', 'unchanged', NULL, NULL),
             |  ('props', 'dropped', NULL, NULL),
             |  ('session_id', 'added', NULL, NULL),
             |  ('ts', 'unchanged', NULL, NULL),
             |  ('user_id', 'unchanged', NULL, NULL),
             |  ('value', 'type_changed', 'double', 'float')
             |) AS t(column_name, status, main_type, batch_type)
             |ORDER BY column_name""".stripMargin)
    ),

    // Freshness / completeness monitoring per feed (event_type): last-seen
    // timestamp, lag against the corpus watermark, and calendar days with
    // ZERO events inside the feed's observed global range — the "which
    // upstream feed is stale or gappy" report a scheduled pipeline
    // (reference: Airflow DAG cadence) alerts on. One partial-agg'd
    // groupBy on the bounded event_type domain + a 1-row global watermark
    // aggregate broadcast back; lag computes in exact integer micros (no
    // float time arithmetic). fresh = lag ≤ 30 min against the corpus
    // max, so the check is self-relative and needs no wall clock (the
    // audit-clock determinism rule q_audit_append follows).
    Q(
      "q_dq_freshness",
      (s, d) => {
        val ev = events(s, d)
        val g = ev.agg(
          max(col("ts")).as("gmax"),
          min(to_date(col("ts"))).as("gmin_d"),
          max(to_date(col("ts"))).as("gmax_d"))
        ev.groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            max(col("ts")).as("last_ts"),
            countDistinct(to_date(col("ts"))).as("n_days"))
          .crossJoin(broadcast(g))
          .select(
            col("event_type"),
            col("n_events"),
            col("last_ts"),
            expr("(unix_micros(gmax) - unix_micros(last_ts)) div 60000000").as("lag_minutes"),
            (datediff(col("gmax_d"), col("gmin_d")) + 1 - col("n_days")).cast("long").as("missing_days"),
            expr("(unix_micros(gmax) - unix_micros(last_ts)) div 60000000 <= 30").as("fresh")
          )
          .orderBy("event_type")
      },
      Some("""WITH g AS (
             |  SELECT MAX(ts) AS gmax, MIN(CAST(ts AS DATE)) AS gmin_d, MAX(CAST(ts AS DATE)) AS gmax_d
             |  FROM events),
             |f AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, MAX(ts) AS last_ts,
             |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
             |  FROM events GROUP BY 1)
             |SELECT event_type, n_events, last_ts,
             |  (epoch_us(gmax) - epoch_us(last_ts)) // 60000000 AS lag_minutes,
             |  CAST(date_diff('day', gmin_d, gmax_d) + 1 - n_days AS BIGINT) AS missing_days,
             |  (epoch_us(gmax) - epoch_us(last_ts)) // 60000000 <= 30 AS fresh
             |FROM f, g ORDER BY event_type""".stripMargin)
    ),

    // Salted aggregation, registered (r15 verdict item 5 — the 2.45×
    // skew_demo measurement lived only inside Bench.scala; this row ships
    // the playbook as a library operator under the hash gate): a
    // deliberately skewed derived key (80% of events collapse onto key 0 —
    // the single-hot-key regime AQE's skew handling leaves alone, since
    // AQE splits oversized partitions for joins, not single-key groupBy
    // state) aggregated through EtlOps.saltedAggregate's two stages:
    // partial count/sum per (key, salt) spread over 32 reducers, then a
    // 32-bounded re-aggregate per key. THE POINT THE ORACLE STATES: the
    // salting must be invisible in the result — the oracle is the plain
    // unsalted GROUP BY, so a double-count, a lost salt bucket, or a
    // non-decomposable partial flips the hash. Decimal accumulators both
    // stages (the dsum discipline) keep the sum order-free, so the extra
    // stage cannot move low bits either. Plan shape pinned in
    // PlanAuditSpec: TWO exchanges (salted then de-salted), each with
    // map-side partial aggregation.
    Q(
      "q_skew_salted",
      (s, d) => {
        val ev = events(s, d).select(
          when(pmod(col("event_id"), lit(5)) < 4, 0L)
            .otherwise(pmod(col("event_id"), lit(64))).as("key"),
          col("event_id"),
          col("value"))
        graft.operators.EtlOps
          .saltedAggregate(
            ev,
            keys = Seq("key"),
            saltFactor = 32,
            partial = Seq(
              count(lit(1)).as("n_p"),
              sum(col("value").cast("decimal(25,10)")).as("s_p")),
            merge = Seq(
              sum(col("n_p")).as("n"),
              sum(col("s_p")).cast("decimal(25,10)").cast("double").as("total_value")))
          .orderBy("key")
      },
      Some("""SELECT CASE WHEN event_id % 5 < 4 THEN 0 ELSE event_id % 64 END AS key,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DECIMAL(25,10)) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1 ORDER BY key""".stripMargin)
    ),

    // The salting playbook's JOIN half, registered (q_skew_salted covers
    // the GROUP BY half; SURVEY §5's measured skew_demo covers the perf
    // claim — this row puts EtlOps.saltedJoin's SEMANTICS under the hash
    // gate): the same 80%-hot derived key joined to a 64-row synthesized
    // dimension through the salted path — fact side salted by
    // pmod(hash(row), 32), dimension EXPLODED across all 32 salts, the
    // join keyed on (key, salt) — with merge hints pinning the
    // sort-merge regime salting exists for (an auto-broadcast dim needs
    // no salt; the hint makes the registered plan the honest big-dim
    // shape). The oracle is the PLAIN unsalted join-aggregate: a lost or
    // duplicated salt replica, a hash/explode mismatch, or a dropped row
    // flips the hash — salting must be invisible in the result, exactly
    // like its aggregation sibling. Post-join rollup keeps the gate
    // bounded (64 rows) and decimal-accumulated.
    Q(
      "q_skew_salted_join",
      (s, d) => {
        val fact = events(s, d).select(
          when(pmod(col("event_id"), lit(5)) < 4, 0L)
            .otherwise(pmod(col("event_id"), lit(64))).as("key"),
          col("event_id"),
          col("value"))
        val dim = s.range(64).select(col("id").as("key"), (col("id") * 7).as("payload"))
        graft.operators.EtlOps
          .saltedJoin(fact.hint("merge"), dim.hint("merge"), "key", saltFactor = 32)
          .groupBy("key")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("value")).as("total_value"),
            sum(col("payload")).as("total_payload"))
          .orderBy("key")
      },
      Some("""WITH fact AS (
             |  SELECT CASE WHEN event_id % 5 < 4 THEN 0 ELSE event_id % 64 END AS key, value
             |  FROM events),
             |dim AS (SELECT r.range AS key, r.range * 7 AS payload FROM range(64) r)
             |SELECT f.key, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(f.value AS DECIMAL(25,10))) AS DOUBLE) AS total_value,
             |  CAST(SUM(d.payload) AS BIGINT) AS total_payload
             |FROM fact f JOIN dim d USING (key)
             |GROUP BY 1 ORDER BY key""".stripMargin)
    ),

    // The reference DAG end to end, under ONE hash gate (the r15 verdict's
    // item 6 — the pieces each have green rows; this row proves the whole
    // chain COMPOSES, which is the reference's actual claim:
    // uscrn_dag.py:137-276 is parse → station join → unit conversion →
    // dedup → staging → main insert, not five separate jobs): events rows
    // round-trip through a whitespace text LINE and parse back to typed
    // columns (the USCRN .txt shape, q_fixed_width_parse's device), join
    // the station dimension (user_id % 25 = n_nationkey, BROADCAST — the
    // locations join, uscrn_dag.py:216-218), convert units behind the
    // sentinel guard (C→F when > -90, uscrn_dag.py:208-209), dedup on the
    // composite observation key with the deterministic min-id winner
    // (utils.py's drop_duplicates analogue), stage and MERGE into main
    // through the real StagingSink (utils.py:44-73), and return the
    // READ-BACK of main — so parquet round-trip, audit stamping, and the
    // merge's key semantics all sit inside the oracle comparison. Scale
    // shape: each stage keeps its own registered row's plan (text parse is
    // map-only; the dim join broadcasts; the dedup window partitions on
    // the composite key; the merge's anti-join probes keys only) — the
    // composition adds no new shuffle beyond its parts.
    Q(
      "q_uscrn_e2e",
      (s, d) => {
        val base = EtlQueries.scratchDir("graft_uscrn_e2e", d)
        val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
        // Extract: typed rows → one text line → split + cast back.
        val parsed = parseUscrnLines(events(s, d).select(uscrnLine("q_uscrn_e2e").as("line")))
        // Transform: station dim join, sentinel-guarded unit conversion,
        // composite-key dedup.
        val transformed = uscrnTransform(parsed, uscrnStations(s, d))
        // Load: staging → MERGE into main → read back.
        graft.sources.StagingSink.stage(transformed, s"$base/staging")
        graft.sources.StagingSink
          .mergeToMain(s, s"$base/staging", s"$base/main", Seq("event_id"), clock = t0)
        ParquetRead.load(s, s"$base/main")
          .select("event_id", "user_id", "station", "event_type", "value", "value_f",
            "date_added_utc")
          .orderBy("event_id")
      },
      Some(uscrnOracle)
    ),

    // The JDBC warehouse load surface under the hash gate (r17 — closes
    // the last closeable registered-query orphan: WarehouseSink is the
    // reference's ACTUAL load surface re-expressed — BigQuery staging
    // table + `INSERT INTO main SELECT *, CURRENT_TIMESTAMP()` with
    // create-if-needed, utils.py:44-67 — and until now only
    // WarehouseSinkSpec exercised it; StagingSink's parquet twin has had
    // e2e rows since r16). A real embedded-Derby round trip: hourly
    // rollup → JDBC stage (overwrite, transient staging contract) →
    // mergeToMain (create-if-needed + audit stamp) → a SECOND staged
    // batch containing BOTH the replayed history and new hours →
    // mergeToMain again, where the keyed anti-join keeps the replay
    // idempotent (history keeps its t0 stamp, only new hours land with
    // t1) → READ BACK over JDBC. So the oracle comparison contains: the
    // JDBC type round trip (timestamp/double/bigint/varchar through
    // Derby), the create-if-needed branch, the audit stamping, and the
    // anti-join idempotency. Scale shape: executor-parallel JDBC writes
    // (one connection per partition), the idempotency probe reads ONLY
    // the key columns (pushed as a projection — payload never crosses
    // the wire), and the rollup bounds the table at (type × hours).
    Q(
      "q_warehouse_e2e",
      (s, d) => {
        // Unique in-memory DB per (dataset, JVM) — the scratchDir key
        // discipline without a filesystem path; re-running in the same
        // JVM replays the same batches into the same DB, which the keyed
        // merge makes a no-op (that idempotency IS the contract).
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
        val url = s"jdbc:derby:memory:graftwh_${key}_${ProcessHandle.current().pid()};create=true"
        val props = new java.util.Properties()
        val cut = lit("2024-01-20 00:00:00").cast("timestamp")
        val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
        val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
        val hourly = events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        graft.sources.WarehouseSink.stage(hourly.filter(col("hour_ts") < cut), url, "wh_hourly", props)
        graft.sources.WarehouseSink
          .mergeToMain(s, url, "wh_hourly", Seq("event_type", "hour_ts"), props, clock = t0)
        // Next DAG run: the full table re-staged (history replay + new
        // hours) — only the new hours may land.
        graft.sources.WarehouseSink.stage(hourly, url, "wh_hourly", props)
        graft.sources.WarehouseSink
          .mergeToMain(s, url, "wh_hourly", Seq("event_type", "hour_ts"), props, clock = t1)
        s.read.jdbc(url, "wh_hourly", props)
          .select("event_type", "hour_ts", "n", "total_value", "date_added_utc")
          .orderBy("event_type", "hour_ts")
      },
      Some("""SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS total_value,
             |  CASE WHEN date_trunc('hour', ts) < TIMESTAMP '2024-01-20 00:00:00'
             |       THEN TIMESTAMP '2026-01-01 00:00:00'
             |       ELSE TIMESTAMP '2026-02-01 00:00:00' END AS date_added_utc
             |FROM events GROUP BY 1, 2
             |ORDER BY event_type, hour_ts""".stripMargin)
    ),

    // The reference's NWS forecast DAG end to end, under ONE hash gate
    // (r16 verdict item 1 — the second of the reference's three DAGs; the
    // pieces each have green rows and NwsPipelineSpec keeps the parser hand
    // cases, but the COMPOSED chain nws_dag.py:63-238 was never
    // hash-checked as one row): per-station page HTML (the
    // q_sitemap_ingest fixture device — see [[nwsPageHtml]]) →
    // HtmlTable.landscapeRecords (landscape transpose, utils.py:180-232,
    // two halves' repeated column names concatenating in document order) →
    // "Last Update:" provenance stamp (utils.py:174-188) → header
    // normalization (°()%→pct, nws_dag.py:134-138) → missing-value policy
    // (gust ''→0, wind_chill ''→NULL, nws_dag.py:141-144) → forward fill
    // of the gappy Date row (_ff_list) → lst timestamp build → AKST+9h
    // shift (nws_dag.py:152-156) → (location, lst_datetime) composite
    // dedup of the scrape-window overlap (nws_dag.py:173-180) → typed cast
    // (the BigQuery SchemaField step) → StagingSink stage → MERGE into
    // main → READ-BACK. Scale shape: the page parse is one per-row
    // projection + generator (no shuffle — a million cached pages fan out
    // across executors), the fill/dedup windows share ONE location-keyed
    // shuffle domain, and the merge probes keys only; the composition adds
    // no new shuffle beyond its registered parts.
    //
    // Dedup determinism note: the overlap pair ties on the dedup order
    // column (same hour string), which dedupByKey warns about — here the
    // two rows are IDENTICAL in every surviving column (both halves carry
    // the same (k, h) functions and the same post-fill date), so either
    // winner yields the same output row; the tie is benign by
    // construction, not by luck.
    Q(
      "q_nws_e2e",
      (s, d) => {
        import s.implicits._
        val base = EtlQueries.scratchDir("graft_nws_e2e", d)
        val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
        // Extract: one pre-fetched page per station (nation = the 25-row
        // station dimension), parsed by the REAL landscape parser.
        val pages = nation(s, d)
          .select(col("n_name").as("location"), col("n_nationkey").cast("int").as("k"))
          .as[(String, Int)]
          .map { case (loc, k) => (loc, EtlQueries.nwsPageHtml(k)) }
          .toDF("location", "html")
        val recs = graft.sources.HtmlTable
          .landscapeRecords(
            pages,
            col("html"),
            tableIdx = 2,
            cols = Seq("Date", "Hour (AKST)", "Temperature (°F)", "Gust (mph)", "Wind Chill (°F)"),
            cellTag = "font")
          .withColumn("last_update_nws", graft.sources.HtmlTable.lastUpdateNws(col("html")))
          .drop("html")
        // Transform: normalize headers, apply the missing-value policy,
        // forward-fill the gappy date, build lst/utc timestamps, collapse
        // the scrape overlap, type the measure columns.
        val normalized = EtlOps.normalizeColumns(recs)
        val policied = normalized
          .withColumn("date", when(col("date") === "", lit(null)).otherwise(col("date")))
          .withColumn("gust_mph", EtlOps.replaceSentinel(col("gust_mph"), lit(""), lit("0")))
          .withColumn("wind_chill_f", EtlOps.replaceSentinel(col("wind_chill_f"), lit(""), lit(null)))
        val filled = EtlOps.forwardFill(policied, Seq("location"), "hour_akst", "date")
        val withTs = filled
          .withColumn(
            "lst_datetime",
            to_timestamp(concat(col("date"), lit(" "), col("hour_akst"), lit(":00")), "yyyy-MM-dd HH:mm"))
          .withColumn("utc_datetime", EtlOps.shiftHours(col("lst_datetime"), 9))
        val deduped = EtlOps.dedupByKey(withTs, Seq("location", "lst_datetime"), "hour_akst")
        val typed = EtlOps
          .castColumns(
            deduped,
            Map("temperature_f" -> "double", "gust_mph" -> "double", "wind_chill_f" -> "double"))
          .select("location", "lst_datetime", "utc_datetime", "temperature_f", "gust_mph",
            "wind_chill_f", "last_update_nws")
        // Load: staging → keyed MERGE into main → read back, so the parquet
        // round-trip, audit stamp, and merge key semantics sit inside the
        // oracle comparison.
        graft.sources.StagingSink.stage(typed, s"$base/staging")
        graft.sources.StagingSink
          .mergeToMain(s, s"$base/staging", s"$base/main", Seq("location", "lst_datetime"), clock = t0)
        ParquetRead.load(s, s"$base/main")
          .select("location", "lst_datetime", "utc_datetime", "temperature_f", "gust_mph",
            "wind_chill_f", "last_update_nws", "date_added_utc")
          .orderBy("location", "lst_datetime")
      },
      // Ground truth stated directly from the fixture's generating
      // functions (the q_sitemap_ingest device): 11 records per station —
      // hours 02..22 step 2 with the h=12 overlap collapsed — day turning
      // at h=18, and the three value functions of (k, h) restated verbatim.
      Some("""WITH hours AS (
             |  SELECT * FROM (VALUES (2,1),(4,1),(6,1),(8,1),(10,1),(12,1),
             |                        (14,1),(16,1),(18,2),(20,2),(22,2)) AS t(h, d)),
             |recs AS (
             |  SELECT n.n_name AS location, CAST(n.n_nationkey AS INT) AS k, h.h, h.d
             |  FROM nation n CROSS JOIN hours h)
             |SELECT location,
             |  make_timestamp(2024, 1, d, h, 0, 0) AS lst_datetime,
             |  make_timestamp(2024, 1, d, h, 0, 0) + INTERVAL 9 HOUR AS utc_datetime,
             |  CAST((k * 7 + h) % 40 - 10 AS DOUBLE) AS temperature_f,
             |  CAST(CASE WHEN h % 8 = 2 THEN 0 ELSE (k + h) % 30 + 5 END AS DOUBLE) AS gust_mph,
             |  CAST(CASE WHEN h % 6 = 4 THEN NULL ELSE (k * 3 + h) % 20 - 10 END AS DOUBLE)
             |    AS wind_chill_f,
             |  '2:' || CAST(10 + k % 50 AS VARCHAR) || 'pm Jan 1 2024' AS last_update_nws,
             |  TIMESTAMP '2026-01-01 00:00:00' AS date_added_utc
             |FROM recs ORDER BY location, lst_datetime""".stripMargin)
    ),

    // The reference's wind DAG end to end, under ONE hash gate (r16
    // verdict item 2 — the third reference DAG; every piece has its own
    // green row (q_incremental_watermark, q_quarantine, q_hourly_rollup,
    // q_sorted_export, q_upsert_merge) but the COMPOSITION
    // uscrn_wind_dag.py:85-264 was never hash-checked as one row):
    // seed main with the pre-cutoff history, read the update cutoff back
    // from MAIN's own max hour (get_update_cutoff,
    // uscrn_wind_dag.py:94-109 — a one-row driver collect, the reference's
    // exact device), extract only rows past the cutoff
    // (uscrn_wind_dag.py:152-155's backwards scan break), quarantine bad
    // wind rows (wind < 0 or flag = 3, :157-158 — asserted non-empty so
    // the gate demonstrably FIRES), broadcast-join the station dimension,
    // floor-to-hour mean rounded to 3 (:184-188), rename to wind_hr_avg
    // (:189), sort (:192), stage, and insert-if-absent MERGE into main
    // (utils.insert_table) — then return the READ-BACK of main. The
    // partially-re-aggregated cutoff hour (rows later in the cutoff hour
    // re-aggregate it from the tail alone) is dropped by the merge's keyed
    // anti-join, so the idempotency boundary is inside the gate too.
    // Scale shape: the cutoff is one collected row (not a scan), the
    // rollup is partial-agg'd on (station, hour), the dim join broadcasts,
    // and the merge probes keys only — no new shuffle beyond the parts.
    Q(
      "q_wind_e2e",
      (s, d) => {
        val base = EtlQueries.scratchDir("graft_wind_e2e", d)
        val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
        val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
        val seedCut = lit("2024-01-20 00:00:00").cast("timestamp")
        val dim = nation(s, d).select(col("n_nationkey"), col("n_name").as("station"))
        // The wind observations: wbanno = the station id, value = wind m/s.
        val obs = events(s, d)
          .select(col("user_id").as("wbanno"), col("ts"), col("event_type"), col("value"))
        val (clean, bad) = EtlOps.quarantine(obs, col("value") < 0 || col("event_type") === "error")
        // The reference logs bad rows and proceeds; the registered row
        // asserts the gate demonstrably fires (a bounded count of the
        // quarantined side — not a corpus collect).
        val nBad = bad.count()
        require(nBad > 0, s"q_wind_e2e: quarantine gate must fire on this fixture (got $nBad bad rows)")
        def rollup(df: DataFrame) = df
          .join(broadcast(dim), col("wbanno") % 25 === col("n_nationkey"))
          .groupBy(col("station"), col("wbanno"), date_trunc("hour", col("ts")).as("utc_hour"))
          .agg(round(dsum(col("value")) / count(lit(1)), 3).as("wind_hr_avg"))
          .withColumn("lst_hour", col("utc_hour") - expr("INTERVAL 9 HOURS"))
          .select("station", "wbanno", "utc_hour", "lst_hour", "wind_hr_avg")
        // Seed: the main table as the previous DAG run left it.
        graft.sources.StagingSink.stage(rollup(clean.filter(col("ts") < seedCut)), s"$base/staging0")
        graft.sources.StagingSink.mergeToMain(
          s, s"$base/staging0", s"$base/main", Seq("station", "wbanno", "utc_hour"), clock = t0)
        // get_update_cutoff: ONE row read back from main itself — the
        // reference's exact "SELECT utc_datetime ... ORDER BY ... LIMIT 1".
        val cutoff = ParquetRead.load(s, s"$base/main")
          .agg(max(col("utc_hour"))).head().getTimestamp(0)
        // Incremental extract: only rows past main's own max hour.
        graft.sources.StagingSink.stage(
          rollup(clean.filter(col("ts") > lit(cutoff))).orderBy("station", "utc_hour"),
          s"$base/staging1")
        graft.sources.StagingSink.mergeToMain(
          s, s"$base/staging1", s"$base/main", Seq("station", "wbanno", "utc_hour"), clock = t1)
        ParquetRead.load(s, s"$base/main")
          .select("station", "wbanno", "utc_hour", "lst_hour", "wind_hr_avg", "date_added_utc")
          .orderBy("station", "wbanno", "utc_hour")
      },
      // Whole-chain restatement: seed rollup before the cutoff date, the
      // cutoff read back as the seed's max hour, the incremental rollup of
      // clean rows past it, and the keyed insert-if-absent union — the
      // partially-re-aggregated cutoff hour must be anti-joined away.
      Some("""WITH obs AS (
             |  SELECT e.user_id AS wbanno, e.ts, e.event_type, e.value, n.n_name AS station
             |  FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey),
             |clean AS (
             |  SELECT * FROM obs WHERE NOT (value < 0 OR event_type = 'error')),
             |main0 AS (
             |  SELECT station, wbanno, date_trunc('hour', ts) AS utc_hour,
             |    round(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 3)
             |      AS wind_hr_avg,
             |    TIMESTAMP '2026-01-01 00:00:00' AS date_added_utc
             |  FROM clean WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
             |  GROUP BY 1, 2, 3),
             |cutoff AS (SELECT max(utc_hour) AS c FROM main0),
             |upd AS (
             |  SELECT station, wbanno, date_trunc('hour', ts) AS utc_hour,
             |    round(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 3)
             |      AS wind_hr_avg,
             |    TIMESTAMP '2026-02-01 00:00:00' AS date_added_utc
             |  FROM clean WHERE ts > (SELECT c FROM cutoff)
             |  GROUP BY 1, 2, 3),
             |merged AS (
             |  SELECT * FROM main0
             |  UNION ALL
             |  SELECT * FROM upd u
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM main0 m
             |    WHERE m.station = u.station AND m.wbanno = u.wbanno
             |      AND m.utc_hour = u.utc_hour))
             |SELECT station, wbanno, utc_hour, utc_hour - INTERVAL 9 HOUR AS lst_hour,
             |  wind_hr_avg, date_added_utc
             |FROM merged ORDER BY station, wbanno, utc_hour""".stripMargin)
    )
  )
}
