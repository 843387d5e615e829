package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.TextOps

/** Incremental inverted-index maintenance — q_inverted_index kept
  * current across micro-batches ([[IncrementalOperator]]), joining the
  * incremental family (doc/near dedup: StreamingDedup; corpus:
  * IncrementalCorpus; ANN: IvfIndex/PqIndex.append; substring:
  * IncrementalSubstr).
  *
  * Per-batch work is the TEXT pass of the batch only: arriving docs are
  * tokenized once (TextOps.docTermsOf — the O(batch tokens) explode)
  * and their distinct (doc_id, term) pairs land in the batch store. The
  * snapshot runs the df + GroupedTopK posting-head aggregation over the
  * ACCUMULATED pairs — ids and terms only, never text. Redelivery is
  * deduped on (doc_id, term): without it a redelivered doc's terms
  * would double-count df and duplicate posting entries.
  *
  * Index maintenance is RETROACTIVE in document frequency: a term
  * below the df floor when its docs arrived crosses it the moment
  * later docs repeat it, and its posting head must then include the
  * EARLIER doc ids. Aggregating at snapshot over the accumulated store
  * makes that exact by construction — IncrementalIndexSpec proves
  * snapshot ≡ one-shot invertedIndexOf(union of batches).
  */
object IncrementalIndex extends IncrementalOperator(
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("term", StringType))),
    dedupKeys = Seq("doc_id", "term"), sortKeys = Seq("term")) {

  val MinDf = 5
  val HeadK = 16

  protected def rowsOf(batch: DataFrame): DataFrame = TextOps.docTermsOf(batch)

  protected def snapshotOf(rows: DataFrame): DataFrame =
    TextOps.indexFromTerms(rows, MinDf, HeadK)

  protected def input(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
}
