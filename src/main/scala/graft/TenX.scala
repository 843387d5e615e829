package graft

/** Assemble the full-suite 10× fixture dir (SCALING.md "Full-suite 10×
  * pass"): star-schema tables from RelScale's key-shifted copies (same
  * selectivity/skew, no cross-copy matches) + documents/embeddings from
  * ScaleSlope's distribution-preserving generators, sized at 10× the
  * source fixture's row counts. Committed so the 10× bench is
  * reproducible: `runMain graft.TenX` then
  * `SPARK_GRAFT_SF_DIR=/tmp/graft_10x runMain graft.Bench`.
  *
  * Usage: runMain graft.TenX [srcSfDir] [dstDir]
  */
object TenX {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_10x")
    val spark = GraftSession()
    RelScale.gen(spark, src, dst, 10)
    def fresh(name: String): Boolean =
      !new java.io.File(s"$dst/$name.parquet/_SUCCESS").exists()
    if (fresh("documents")) {
      val n = spark.read.parquet(s"$src/documents.parquet").count() * 10
      ScaleSlope.genDocuments(spark, n)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }
    if (fresh("embeddings")) {
      val n = spark.read.parquet(s"$src/embeddings.parquet").count() * 10
      ScaleSlope.genEmbeddings(spark, n)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }
    println(s"TENX ready at $dst")
    spark.stop()
  }
}
