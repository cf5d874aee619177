package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The crawl family's fixtures live once per engine in `TextQueries`, next
  * to `frontierCandidates` and `duckFrontierCte`: a row that re-spells the
  * md5 digit, the url-path regex or the source-host table can drift from
  * its siblings (q_robots_filter ≡ q_crawl_e2e) without any hash noticing,
  * since its oracle would be re-spelled with it.
  */
class CrawlFixturesSpec extends AnyFunSuite {

  test("TextQueries spells each crawl fixture at most once per engine") {
    val text = Files.readString(Paths.get("src/main/scala/graft/TextQueries.scala"))
    val spellings = Seq(
      "the hex digits, one per engine" -> ("0123456789abcdef", 2),
      "the Spark md5 digit" -> ("""locate\(substring\(md5\(""", 1),
      "the DuckDB md5 digit" -> ("""strpos\(\S+, substr\(md5\(""", 1),
      "the url-path regex, one per engine" -> ("""\^\[a-z\]\+://\[\^/\]\+\(/\[\^\?#\]\*\)""", 2),
      "the Spark source-host table" ->
        ("""concat\(lower\(col\("source"\)\), lit\("\.example\.com"\)\)\.as\("host"\)\)\s*\.distinct\(\)""", 1),
      "the DuckDB source-host table" -> ("""SELECT DISTINCT lower\(source\) \|\| '\.example\.com'""", 1))
    val offenders = for {
      (what, (re, max)) <- spellings
      n = re.r.findAllMatchIn(text).size if n > max
    } yield s"$what: $n spellings (at most $max)"
    assert(offenders.isEmpty, s"reuse the shared crawl fixtures: ${offenders.mkString("; ")}")
  }
}
