package graft.pipeline

/** One upstream source's declaration — the reference externalizes these in
  * airflow/dags/config/sources.yaml (per-source description / readme /
  * headers / index / updates urls) and gcp-config.yaml (warehouse
  * coordinates), and its DAGs read the registry instead of hard-coding
  * urls. Same shape here, typed.
  *
  * `keys` are the merge keys [[graft.sources.StagingSink.mergeToMain]]
  * dedups on; `schedule` is the [[Pipeline.schedule]] cron; `extra` keeps
  * any source-specific fields (readme/headers/...) without schema churn.
  */
final case class SourceConfig(
    name: String,
    description: Option[String],
    index: Option[String],
    updates: Option[String],
    table: Option[String],
    schedule: Option[String],
    keys: Seq[String],
    extra: Map[String, String]
) {
  /** Fields every live pipeline needs before it can run; used by
    * preflight-style validation so a half-declared source fails at parse
    * time, not mid-DAG.
    */
  def require(fields: String*): Either[String, SourceConfig] = {
    val known: Map[String, Option[String]] = Map(
      "description" -> description, "index" -> index, "updates" -> updates,
      "table" -> table, "schedule" -> schedule,
      "keys" -> (if (keys.nonEmpty) Some(keys.mkString(",")) else None))
    val missing = fields.filter(f => known.getOrElse(f, extra.get(f)).isEmpty)
    if (missing.isEmpty) Right(this) else Left(s"source '$name' missing: ${missing.mkString(", ")}")
  }
}

/** Parses a flat `source.field = value` properties text into typed
  * [[SourceConfig]]s — java.util.Properties syntax, so no new dependency,
  * comments with `#`, and the file diff-reviews like the reference's yaml.
  *
  * {{{
  * uscrn.description = Hourly historical weather data from USCRN
  * uscrn.index       = https://example.org/products/hourly02/
  * uscrn.updates     = https://example.org/products/hourly02/updates/
  * uscrn.table       = uscrn_main
  * uscrn.schedule    = 0 10 * * *
  * uscrn.keys        = wbanno, utc_datetime
  * }}}
  *
  * Value syntax is Properties syntax (r10 advice, stated rather than
  * implied): backslash is an ESCAPE character — write `\\` for a literal
  * backslash (Windows paths!), and a lone trailing `\` continues the value
  * onto the next line. Duplicate keys, on the other hand, are NOT given
  * Properties' silent last-one-wins treatment: a copy-pasted line that
  * shadows an earlier declaration fails the parse loudly (below).
  */
object SourceRegistry {

  /** The reserved section name for the warehouse target (see
    * [[WarehouseConfig]]); excluded from the per-source registry.
    */
  val WarehouseSection = "warehouse"

  /** Properties text → flat key/value map, with the loud-failure contract:
    * duplicate keys and non-`section.field` keys fail the parse.
    */
  private def loadFlat(text: String): Map[String, String] = {
    val dups = scala.collection.mutable.LinkedHashSet.empty[String]
    val props = new java.util.Properties() {
      // Properties.load funnels every parsed line through put — record
      // collisions there instead of re-implementing the line format.
      override def put(k: AnyRef, v: AnyRef): AnyRef = {
        if (containsKey(k)) dups += k.toString
        super.put(k, v)
      }
    }
    props.load(new java.io.StringReader(text))
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        "duplicate source config keys (silent last-one-wins would drop a " +
          s"declaration): ${dups.toSeq.sorted.mkString(", ")}")
    import scala.jdk.CollectionConverters._
    val flat = props.asScala.toMap
    // A key without a `source.field` shape is a typo'd declaration; fail
    // the parse rather than silently running the pipeline without it.
    val malformed = flat.keys.filter(!_.matches("[^.]+\\..+")).toSeq.sorted
    if (malformed.nonEmpty)
      throw new IllegalArgumentException(
        s"malformed source config keys (expected source.field): ${malformed.mkString(", ")}")
    flat
  }

  def parse(text: String): Map[String, SourceConfig] = {
    val flat = loadFlat(text).filterNot { case (k, _) => k.startsWith(WarehouseSection + ".") }
    flat.keys
      .flatMap(k => k.split("\\.", 2) match {
        case Array(src, _) => Some(src)
        case _             => None
      })
      .toSeq.distinct
      .map { src =>
        val fields = flat.collect {
          case (k, v) if k.startsWith(src + ".") => k.drop(src.length + 1) -> v.trim
        }
        val reserved = Set("description", "index", "updates", "table", "schedule", "keys")
        src -> SourceConfig(
          name = src,
          description = fields.get("description"),
          index = fields.get("index"),
          updates = fields.get("updates"),
          table = fields.get("table"),
          schedule = fields.get("schedule"),
          keys = fields.get("keys").toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
          extra = fields.filterNot { case (k, _) => reserved(k) }
        )
      }
      .toMap
  }

  /** The warehouse-target section of the same config text, when declared.
    * Throws if the section exists without its one mandatory field (`url`) —
    * a half-declared warehouse should fail at parse time like a
    * half-declared source does. Throws on `audit_column` too: both sinks
    * always stamp `date_added_utc`, so a config naming another column would
    * otherwise be silently ignored.
    */
  def warehouse(text: String): Option[WarehouseConfig] = {
    val fields = loadFlat(text).collect {
      case (k, v) if k.startsWith(WarehouseSection + ".") =>
        k.drop(WarehouseSection.length + 1) -> v.trim
    }
    if (fields.isEmpty) None
    else {
      val url = fields.getOrElse("url",
        throw new IllegalArgumentException("warehouse section declared without warehouse.url"))
      if (fields.contains("audit_column"))
        throw new IllegalArgumentException(
          "warehouse.audit_column is not a setting: the load timestamp is always date_added_utc")
      val reserved = Set("url", "table", "credentials")
      Some(WarehouseConfig(
        url = url,
        table = fields.get("table"),
        credentials = fields.get("credentials"),
        extra = fields.filterNot { case (k, _) => reserved(k) }
      ))
    }
  }

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  def load(path: String): Map[String, SourceConfig] = parse(read(path))
}

/** Warehouse-target coordinates — the reference externalizes these in
  * airflow/dags/config/gcp-config.yaml (project-id / dataset-id / location /
  * credentials path, read by its warehouse client at utils.py:9) so DAGs
  * never hard-code them. Same role here, mapped to the public JDBC surface
  * [[graft.sources.WarehouseSink]] consumes: `url` carries the connection
  * coordinates (the project/dataset/location analogue), `credentials`
  * points at a properties file of JDBC connection properties
  * (user/password — the service-account-keyfile analogue, kept OUT of the
  * config text itself exactly as the reference keeps its keyfile out of
  * the yaml). The load-timestamp column `mergeToMain` stamps on every
  * appended row is always `date_added_utc`.
  *
  * Declared in the same `section.field = value` properties text as the
  * sources (one file, both of the reference's config shapes):
  *
  * {{{
  * warehouse.url          = jdbc:derby:memory:wh;create=true
  * warehouse.table        = uscrn_main
  * warehouse.credentials  = /etc/graft/warehouse-creds.properties
  * }}}
  */
final case class WarehouseConfig(
    url: String,
    table: Option[String],
    credentials: Option[String],
    extra: Map[String, String]
) {
  /** JDBC connection properties: the credentials file's entries (when
    * configured) overlaid with any inline `warehouse.*` extra fields —
    * inline extras win, so a config can pin e.g. a driver class while the
    * credentials file carries only secrets.
    */
  def jdbcProps: java.util.Properties = {
    val p = new java.util.Properties()
    credentials.foreach { path =>
      val in = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(path))
      try p.load(in) finally in.close()
    }
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
}
