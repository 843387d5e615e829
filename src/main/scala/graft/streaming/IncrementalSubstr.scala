package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.TextOps

/** Incremental exact-substring dedup — q_dedup_substr maintained across
  * micro-batches ([[IncrementalOperator]]), completing the incremental
  * story for the last dedup family member (doc/near: StreamingDedup;
  * corpus: IncrementalCorpus; ANN: IvfIndex/PqIndex.append).
  *
  * Per-batch work is the TEXT pass of the batch only: arriving docs are
  * k-grammed once (TextOps.gramsOf — the O(batch tokens) explode) and
  * their digest rows land in the batch store. The snapshot then runs
  * dup-detection + span merge over the ACCUMULATED digest rows
  * (spansFromGrams) — ids, positions, and 16-byte digests only, never
  * text — the same "heavy pass per batch, compact state at snapshot"
  * split IncrementalCorpus uses for components. Redelivery is deduped
  * on (doc_id, pos, g): without it a redelivered doc's grams would count
  * twice and the whole doc would read as one giant dup span. (A REVISED
  * doc re-ingested under a new id is out of scope here, as for
  * StreamingDedup's signature store: revision handling needs a
  * displacement contract — see IncrementalCorpus — not a dedup.)
  *
  * Substring dedup is inherently RETROACTIVE: a gram that was unique
  * when its doc arrived becomes duplicated the moment any later doc
  * repeats it, changing the OLD doc's span report. Running detection at
  * snapshot over the accumulated store makes that retroactivity exact
  * by construction — IncrementalSubstrSpec proves snapshot ≡ one-shot
  * substrSpansOf(union of batches).
  */
object IncrementalSubstr extends IncrementalOperator(
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_toks", IntegerType),
      StructField("pos", IntegerType),
      StructField("g", BinaryType))),
    dedupKeys = Seq("doc_id", "pos", "g"), sortKeys = Seq("g")) {

  val K = 8

  protected def rowsOf(batch: DataFrame): DataFrame = TextOps.gramsOf(batch, K)

  protected def snapshotOf(rows: DataFrame): DataFrame =
    TextOps.spansFromGrams(rows, K)

  protected def input(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
}
