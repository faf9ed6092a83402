package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.DirMemo]] cache-key contract (r6 ADVICE): keyed by
  * (session, dir) so a second LIVE session requesting the same dir gets
  * its own entry instead of silently evicting (and leaking the
  * checkpoint blocks of) the first session's — and each session's entry
  * keeps being served to it afterward.
  */
class DirMemoSpec extends AnyFunSuite with SparkSpec {

  test("two live sessions on the same dir hold independent entries") {
    val builds = new AtomicInteger(0)
    val memo = new SparkEntry.DirMemo((s, dir) => {
      builds.incrementAndGet()
      s.range(1).select(lit(dir).as("dir"))
    })
    val s1 = spark
    val s2 = spark.newSession()
    val df1 = memo(s1, "/some/dir")
    assert(builds.get() == 1)
    val df2 = memo(s2, "/some/dir")
    assert(builds.get() == 2)
    // serving again must hit each session's OWN cached entry — before the
    // (session, dir) key, s2's build replaced s1's entry and this re-built
    assert(memo(s1, "/some/dir") eq df1)
    assert(memo(s2, "/some/dir") eq df2)
    assert(builds.get() == 2)
    // distinct dirs stay distinct entries within a session
    memo(s1, "/other/dir")
    assert(builds.get() == 3)
    memo.reset()
  }

  test("resetSharedCaches drops memoized table scans, so a rewritten dir is re-listed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tblmemo").toString
    def write(n: Int): Unit =
      spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    write(1)
    val first = SparkEntry.tbl(spark, dir, "t")
    assert(first.count() == 1)
    write(3)
    // within a session the memo serves the frame it resolved first, file
    // listing included
    assert(SparkEntry.tbl(spark, dir, "t") eq first)
    SparkEntry.resetSharedCaches()
    val fresh = SparkEntry.tbl(spark, dir, "t")
    assert(!(fresh eq first))
    assert(fresh.count() == 3)
  }

  test("ShingledRows tag mismatch fails loudly (r6 ADVICE)") {
    import spark.implicits._
    val docs = Seq((1L, "merge join table scan index")).toDF("doc_id", "text")
    val pairs = Seq((1L, 1L)).toDF("doc_a", "doc_b")
    val rows = ext.Dedup.shingleRows(docs, k = 3, hashed = true)
    val tagged = ext.Dedup.ShingledRows(rows, k = 3, hashed = true)
    // matching tag: plans fine
    ext.Dedup.jaccardForPairs(docs, pairs, 3, preShingleRows = Some(tagged))
    // k mismatch and hashed mismatch both reject at plan time
    intercept[IllegalArgumentException] {
      ext.Dedup.jaccardForPairs(docs, pairs, 4, preShingleRows = Some(tagged))
    }
    intercept[IllegalArgumentException] {
      ext.Dedup.jaccardForPairs(docs, pairs, 3, hashed = false,
        preShingleRows = Some(tagged))
    }
  }
}
