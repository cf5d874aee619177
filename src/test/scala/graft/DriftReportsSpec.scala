package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The drift and anomaly monitors' shared steps live in one place,
  * `operators.DriftReports`, for both engines: a query that re-spells the
  * median split or the KS threshold, in Spark or in its DuckDB oracle, can
  * drift from its batch or stream twin without any hash noticing.
  */
class DriftReportsSpec extends AnyFunSuite {

  test("src/main spells the median split and the KS threshold only in DriftReports") {
    val home = Paths.get("src/main/scala/graft/operators/DriftReports.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home)
      .toSeq
    val needles = Seq("percentile(us, 0.5)", "quantile_cont(us, 0.5)", "1.358")
    val offenders = for {
      p: Path <- sources
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty, s"use graft.operators.DriftReports instead: ${offenders.mkString("; ")}")
  }
}
