package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The vector-search family's shared steps live in `operators.VectorOps`,
  * for both engines: a row that re-spells the training sample, the
  * nearest-centroid cell, the planted twin or the DuckDB cosine can drift
  * from its siblings (the ANN paths, k-means, SemDeDup) without any hash
  * noticing, since its oracle would be re-spelled with it.
  */
class VectorOpsSpec extends AnyFunSuite with SparkSpec {

  test("src/main spells the sample, the cell, the planted twin and the DuckDB cosine only in VectorOps") {
    val home = Paths.get("src/main/scala/graft/operators/VectorOps.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home)
      .toSeq
    val spellings = Seq(
      "the nearest-centroid cell" -> """array_position\([^\n]*array_max""",
      "the training sample" -> """pmod\(col\("vec_id"\)""",
      "the planted twin" -> """0\.05f""",
      "the DuckDB cosine" -> """list_cosine_similarity\(list_transform""",
      "the DuckDB DOUBLE promotion" -> """x -> CAST\(x AS DOUBLE\)""")
    val offenders = for {
      p: Path <- sources
      text = Files.readString(p)
      (what, re) <- spellings if re.r.findFirstIn(text).isDefined
    } yield s"$p: $what"
    assert(offenders.isEmpty, s"use graft.operators.VectorOps instead: ${offenders.mkString("; ")}")
  }

  test("q_semdedup collects its two-level training sample once") {
    // The coarse and the fine level train on one collected sample: 7 jobs
    // for a warm build + collect at sf0.001, where collecting the sample
    // once per level ran 8. A warm run leaves out the first read's schema
    // inference and the memoized row count.
    QueryRegistry.queries("q_semdedup")(spark, sfDir).collect()
    val (_, jobs) = jobsDuring(QueryRegistry.queries("q_semdedup")(spark, sfDir).collect())
    info(s"q_semdedup: $jobs jobs")
    assert(jobs <= 7, s"q_semdedup ran $jobs jobs, over its budget of 7")
  }
}
