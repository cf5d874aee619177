package graft

import graft.pipeline.SourceRegistry
import org.scalatest.funsuite.AnyFunSuite

class SourceConfigSpec extends AnyFunSuite {

  private val text =
    """# registry — same shape as the reference's sources.yaml
      |uscrn.description = Hourly historical weather data from USCRN
      |uscrn.index       = https://www.ncei.noaa.gov/pub/data/uscrn/products/hourly02/
      |uscrn.updates     = https://www.ncei.noaa.gov/pub/data/uscrn/products/hourly02/updates/
      |uscrn.readme      = https://www.ncei.noaa.gov/pub/data/uscrn/products/hourly02/readme.txt
      |uscrn.table       = uscrn_main
      |uscrn.schedule    = 0 10 * * *
      |uscrn.keys        = station_location, utc_datetime
      |nws.index         = https://forecast.weather.gov/MapClick.php
      |nws.schedule      = 0 * * * *
      |""".stripMargin

  test("parses multiple sources with typed fields, url colons intact") {
    val reg = SourceRegistry.parse(text)
    assert(reg.keySet == Set("uscrn", "nws"))
    val u = reg("uscrn")
    assert(u.index.contains("https://www.ncei.noaa.gov/pub/data/uscrn/products/hourly02/"))
    assert(u.schedule.contains("0 10 * * *"))
    assert(u.keys == Seq("station_location", "utc_datetime"))
    assert(u.table.contains("uscrn_main"))
    // Non-reserved fields land in extra without schema churn.
    assert(u.extra.get("readme").exists(_.endsWith("readme.txt")))
    assert(reg("nws").keys.isEmpty)
  }

  test("require() flags missing fields at declaration time") {
    val reg = SourceRegistry.parse(text)
    assert(reg("uscrn").require("index", "schedule", "table", "keys").isRight,
      "declared keys must satisfy require(\"keys\")")
    val missing = reg("nws").require("table", "updates", "readme", "keys")
    assert(missing.isLeft)
    val msg = missing.left.toOption.get
    assert(msg.contains("table") && msg.contains("updates") && msg.contains("readme")
      && msg.contains("keys"))
  }

  test("a typo'd key without the source.field shape fails the parse loudly") {
    val bad = text + "uscrnbroken = oops\n"
    val e = intercept[IllegalArgumentException](SourceRegistry.parse(bad))
    assert(e.getMessage.contains("uscrnbroken"))
  }

  test("a duplicated key fails the parse instead of silent last-one-wins (r10 advice)") {
    val bad = text + "uscrn.table = shadowed_main\n"
    val e = intercept[IllegalArgumentException](SourceRegistry.parse(bad))
    assert(e.getMessage.contains("duplicate") && e.getMessage.contains("uscrn.table"))
    // The same contract guards the warehouse section.
    val badWh = "warehouse.url = jdbc:derby:memory:a\nwarehouse.url = jdbc:derby:memory:b\n"
    assert(intercept[IllegalArgumentException](SourceRegistry.warehouse(badWh))
      .getMessage.contains("warehouse.url"))
  }

  test("backslashes in values follow documented Properties escaping") {
    // `\\` in the file is one literal backslash after parsing; this is the
    // documented contract, pinned so a format change can't silently alter
    // stored paths.
    val reg = SourceRegistry.parse("win.path = C:\\\\data\\\\staging\n")
    assert(reg("win").extra("path") == "C:\\data\\staging")
  }

  test("the warehouse section parses to typed coordinates (reference gcp-config.yaml shape)") {
    val wh = SourceRegistry.warehouse(
      text +
        """warehouse.url          = jdbc:derby:memory:graft_wh;create=true
          |warehouse.table        = uscrn_main
          |warehouse.batchsize    = 500
          |""".stripMargin).get
    assert(wh.url == "jdbc:derby:memory:graft_wh;create=true")
    assert(wh.table.contains("uscrn_main"))
    assert(wh.credentials.isEmpty)
    // Non-reserved fields become JDBC connection properties.
    assert(wh.jdbcProps.getProperty("batchsize") == "500")
    // The warehouse section never leaks into the per-source registry, and
    // a config without the section simply has no warehouse.
    assert(!SourceRegistry.parse(text + "warehouse.url = jdbc:x\n").contains("warehouse"))
    assert(SourceRegistry.warehouse(text).isEmpty)
  }

  test("warehouse.audit_column fails at parse time, naming the key") {
    // Both sinks always stamp date_added_utc; a config asking for another
    // column must not be silently ignored, nor become a JDBC property.
    val e = intercept[IllegalArgumentException](SourceRegistry.warehouse(
      """warehouse.url          = jdbc:derby:memory:graft_wh;create=true
        |warehouse.audit_column = loaded_at
        |""".stripMargin))
    assert(e.getMessage.contains("warehouse.audit_column"))
  }

  test("a half-declared warehouse (no url) fails at parse time") {
    val e = intercept[IllegalArgumentException](
      SourceRegistry.warehouse("warehouse.table = main_t\n"))
    assert(e.getMessage.contains("warehouse.url"))
  }

  test("warehouse credentials load from a properties file, inline extras win") {
    val f = java.nio.file.Files.createTempFile("wh_creds", ".properties")
    java.nio.file.Files.writeString(f, "user = loader\npassword = s3cret\nbatchsize = 100\n")
    val wh = SourceRegistry.warehouse(
      s"""warehouse.url         = jdbc:derby:memory:graft_wh;create=true
         |warehouse.credentials = ${f.toString.replace("\\", "\\\\")}
         |warehouse.batchsize   = 500
         |""".stripMargin).get
    val p = wh.jdbcProps
    assert(p.getProperty("user") == "loader" && p.getProperty("password") == "s3cret")
    assert(p.getProperty("batchsize") == "500", "inline extras override the credentials file")
  }

  test("schedule from config drives the cron scheduler") {
    val reg = SourceRegistry.parse(text)
    val cron = graft.pipeline.CronExpr.parse(reg("uscrn").schedule.get)
    val t = java.time.LocalDateTime.of(2024, 1, 15, 9, 0).toInstant(java.time.ZoneOffset.UTC)
    val next = java.time.LocalDateTime.of(2024, 1, 15, 10, 0).toInstant(java.time.ZoneOffset.UTC)
    assert(cron.nextAfter(t) == next)
  }
}
