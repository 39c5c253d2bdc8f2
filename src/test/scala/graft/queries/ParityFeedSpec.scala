package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The tmpfs drop-dir file feed (r13 parity harness): the staged
  * slices must land in ONE first micro-batch (the old MemoryStream
  * pre-add semantics — the watermark only advances at the batch
  * boundary, so no data event is ever late), each appended sentinel
  * slice must arrive as its own later batch, the batch-side `replay`
  * must return exactly the staged multiset (the retained-source
  * contract pass 2 relies on), and the feed dir must be gone after
  * the bracket. */
class ParityFeedSpec extends SparkSpec {

  import spark.implicits._

  private def srcDf(n: Int) =
    (1 to n).map(i => (i.toLong, s"v$i", i * 1000000L))
      .toDF("id", "label", "tsMicros")

  test("staged slices land in one micro-batch; sentinels batch separately") {
    ParityFeed.withStreamParallelism(spark, 4) {
      ParityFeed.withFeed(spark, srcDf(500), slices = 4) { (feed, maxTs) =>
        assert(maxTs == 500L * 1000000L)
        val batches =
          scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
        val q = ParityFeed.stream(spark, feed).writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            batches.synchronized {
              batches += df.agg(count(lit(1)), coalesce(max(col("tsMicros")),
                lit(0L))).as[(Long, Long)].collect().toSeq
            }; ()
          }.start()
        try {
          q.processAllAvailable()
          ParityFeed.sentinel(spark, feed, -1L, "_s", maxTs + 86400000000L)
          q.processAllAvailable()
          ParityFeed.sentinelRows(spark, feed, Seq(
            Seq(-2L, "_s", maxTs + 2L * 86400000000L),
            Seq(-3L, "_s", maxTs + 2L * 86400000000L)))
          q.processAllAvailable()
        } finally q.stop()
        val nonEmpty = batches.toSeq.flatten.filter(_._1 > 0L)
        // batch 1: all 500 staged rows; batch 2: the one-row sentinel;
        // batch 3: the two-row sentinel slice
        assert(nonEmpty == Seq((500L, maxTs),
          (1L, maxTs + 86400000000L), (2L, maxTs + 2L * 86400000000L)))
        // replay = the staged multiset (sentinels excluded by ts)
        val replayed = ParityFeed.replay(spark, feed)
          .where(col("tsMicros") <= maxTs)
        assert(replayed.count() == 500L)
        assert(replayed.agg(sum(col("id"))).head().getLong(0)
          == (1L to 500L).sum)
        feed.dir
      }
    }
  }

  test("withSharedFeed: one staging per key, maxTs frozen at staging, sentinels absorbed") {
    val k = s"spec:${System.identityHashCode(this)}"
    val (dir1, max1) = ParityFeed.withSharedFeed(spark, k, srcDf(50)) {
      (feed, maxTs) => (feed.dir, maxTs)
    }
    assert(max1 == 50L * 1000000L)
    // a later gate on the same key: SAME staged dir, NO restaging —
    // the df argument must not even be evaluated
    val (dir2, max2) = ParityFeed.withSharedFeed(spark, k,
      sys.error("must not restage"): org.apache.spark.sql.DataFrame) {
      (feed, maxTs) => (feed.dir, maxTs)
    }
    assert(dir2 == dir1 && max2 == max1)
    // sentinel slices appended by an earlier gate must NOT move a
    // later gate's maxTs (computed at staging time), and replay's
    // ts filter must exclude them — the absorption contract the
    // robust-stats + sketch gates rely on
    ParityFeed.sentinel(spark, feed = ParityFeed.FileFeed(dir1,
      srcDf(1).schema), -9L, "_s", max1 + 86400000000L)
    val (_, max3) = ParityFeed.withSharedFeed(spark, k,
      sys.error("must not restage"): org.apache.spark.sql.DataFrame) {
      (feed, maxTs) =>
        val replayed = ParityFeed.replay(spark, feed)
          .where(col("tsMicros") <= maxTs)
        assert(replayed.count() == 50L)
        (feed.dir, maxTs)
    }
    assert(max3 == max1)
    // distinct key: distinct staging
    val dirB = ParityFeed.withSharedFeed(spark, k + ":b", srcDf(5)) {
      (feed, _) => feed.dir
    }
    assert(dirB != dir1)
  }

  test("withFeed cleans up its drop-dir") {
    val dir = ParityFeed.withFeed(spark, srcDf(10)) { (feed, _) => feed.dir }
    assert(!new java.io.File(dir).exists(), s"feed dir $dir survived the bracket")
  }

  test("withSharedFeed refuses to re-enter a key that is in use") {
    val k = s"spec-reentry:${System.identityHashCode(this)}"
    val e = intercept[IllegalStateException] {
      ParityFeed.withSharedFeed(spark, k, srcDf(5)) { (_, _) =>
        ParityFeed.withSharedFeed(spark, k, srcDf(5)) { (_, _) => () }
      }
    }
    assert(e.getMessage.contains(k))
    // the refused inner entry leaves the outer bracket's release intact
    ParityFeed.withSharedFeed(spark, k, srcDf(5)) { (_, _) => () }
  }

  test("withSharedFeed deletes only its own sentinel slices, .crc included") {
    val k = s"spec-own:${System.identityHashCode(this)}"
    val (dir, own) = ParityFeed.withSharedFeed(spark, k, srcDf(5)) { (feed, maxTs) =>
      val before = new java.io.File(feed.dir).list().toSet
      ParityFeed.sentinel(spark, feed, -1L, "_s", maxTs + 86400000000L)
      // a file this bracket did not write must survive its cleanup
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(feed.dir, "_foreign"))
      (feed.dir, new java.io.File(feed.dir).list().toSet -- before - "_foreign")
    }
    // the published slice and its checksum sidecar; no hidden
    // in-progress name remains
    assert(own.count(_.startsWith("sentinel-")) == 1, own)
    assert(own.count(n => n.startsWith(".sentinel-") && n.endsWith(".crc")) == 1, own)
    assert(own.size == 2, own)
    val after = new java.io.File(dir).list().toSet
    assert((own & after).isEmpty, s"own sentinel files survived: ${own & after}")
    assert(after.contains("_foreign"))
  }
}
