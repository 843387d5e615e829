package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.ml.StarComponents
import graft.queries.Graph
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The storage-level knob only moves WHERE materialized rows live —
  * results must be byte-identical at any level, and the default path
  * must stay the plain eager localCheckpoint the bench has always
  * timed. The knob must reach every materialization site, so no site
  * may call localCheckpoint around [[Materialize.frame]].
  */
class MaterializeSpec extends AnyFunSuite with SharedSpark {

  test("frame() results identical across storage levels; knob round-trips") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"w$i", i % 7))
      .toDF("id", "w", "g")
      .groupBy(col("g")).agg(count(lit(1)).as("c"), max(col("w")).as("mw"))
    val base = Materialize.frame(df).orderBy(col("g")).collect().toSeq
    for (lvl <- Seq("DISK_ONLY", "MEMORY_AND_DISK_SER")) {
      spark.conf.set(Materialize.StorageLevelConf, lvl)
      try {
        val got = Materialize.frame(df).orderBy(col("g")).collect().toSeq
        assert(got == base, s"results drifted at storage level $lvl")
      } finally spark.conf.unset(Materialize.StorageLevelConf)
    }
  }

  test("unknown storage level fails loud, not silently-default") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "w")
    spark.conf.set(Materialize.StorageLevelConf, "NOT_A_LEVEL")
    try intercept[IllegalArgumentException] { Materialize.frame(df) }
    finally spark.conf.unset(Materialize.StorageLevelConf)
  }

  test("the storage level reaches the routed sites: StarComponents and a Graph loop") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    spark.conf.set(Materialize.StorageLevelConf, "DISK_ONLY")
    try {
      val chain = (0L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
      val comps = StarComponents.connectedComponents(chain, driverEdgeLimit = 0L)
      val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L), (5L, 6L))
      val core = Graph.kcoreOf((und ++ und.map(_.swap)).toDF("src", "dst"), 3)
      // read before anything releases a block: both calls pin theirs
      val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(added.nonEmpty, "the calls materialized nothing")
      val wrong = added.collect {
        case (id, rdd) if rdd.getStorageLevel != StorageLevel.DISK_ONLY =>
          id -> rdd.getStorageLevel.description
      }
      assert(wrong.isEmpty, s"blocks not at DISK_ONLY: $wrong")
      assert(comps.as[(Long, Long)].collect().toMap == (0L to 16L).map(_ -> 0L).toMap)
      assert(core.count() == 4)
    } finally spark.conf.unset(Materialize.StorageLevelConf)
  }

  test("no localCheckpoint in src/main bypasses Materialize.frame") {
    // the three sites frame() cannot serve, matched by content (see the
    // Materialize doc): an RDD checkpoint and two deliberately lazy ones
    val exceptions = Set(
      "Similarity.scala" -> "mat.localCheckpoint()",
      "Similarity.scala" ->
        "val sigs = cappedSignaturesOf(docs, exactMax, cacheKey).localCheckpoint(false)",
      "Similarity.scala" ->
        "val sigs = cappedCharSignaturesOf(docs, k, exactMax, cacheKey).localCheckpoint(false)")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val bypasses = for {
      f <- files if f.getFileName.toString != "Materialize.scala"
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if code.contains(".localCheckpoint(")
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if !exceptions(f.getFileName.toString -> code)
    } yield s"$f:${n + 1}: $code"
    assert(files.nonEmpty)
    assert(bypasses.isEmpty,
      s"route these through graft.Materialize.frame:\n${bypasses.mkString("\n")}")
  }
}
