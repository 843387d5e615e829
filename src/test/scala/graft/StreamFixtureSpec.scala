package graft

import graft.streaming.StreamFixture
import org.scalatest.funsuite.AnyFunSuite

/** The shared stream-fixture scaffold (streaming/StreamFixture.scala)
  * behind every incremental operator's declared query: a commit that
  * throws must not leave a running streaming query or the temp tree
  * behind.
  */
class StreamFixtureSpec extends AnyFunSuite with SharedSpark {

  test("a commit that throws on its second batch stops the query and deletes the temp dir") {
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var stateDir: String = null
    val ex = intercept[Exception] {
      StreamFixture.run(Tables.documents(spark, sf), nFiles = 3) {
        (batch, _, state) =>
          stateDir = state
          if (commits.incrementAndGet() == 2)
            throw new IllegalStateException("injected commit failure")
          batch.count()
          ()
      } { state => spark.read.parquet(state) }
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected commit failure")),
      s"the commit's failure must surface, got $ex")
    assert(commits.get == 2, "the first batch commits, the second throws")
    assert(spark.streams.active.isEmpty, "the streaming query must be stopped")
    val tmp = new java.io.File(stateDir).getParentFile
    assert(!tmp.exists(), s"the temp tree must be deleted: $tmp")
  }
}
