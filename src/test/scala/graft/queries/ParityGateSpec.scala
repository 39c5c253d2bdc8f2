package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.streaming.StreamingThrottle

/** The memory-sink harness every parity gate runs through: the flush
  * lands between the two drains as its own micro-batch, and the sink's
  * temp view is gone after the gate on every path — normal return, a
  * failing query, and a failing late-drop check. Plus a source guard
  * that keeps hand-copied sink blocks out of the main tree. */
class ParityGateSpec extends SparkSpec {

  import spark.implicits._

  private def sec(s: Long): Long = (1000000L + s) * 1000000L

  private def srcDf(n: Int) =
    (1 to n).map(i => (i.toLong, sec(i.toLong))).toDF("id", "tsMicros")

  /** Temp views left by this spec's gates (tags all start `pgspec`). */
  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("stream_pgspec"))
      .map(_.name)

  test("flush runs between the two drains: the sentinel is its own micro-batch") {
    ParityFeed.withFeed(spark, srcDf(50), slices = 2) { (feed, maxTs) =>
      ParityGate(spark) { gate =>
        var q: StreamingQuery = null
        var dataBatchesAtFlush = -1
        var viewsDuringRead = Seq.empty[String]
        val ids = gate.sink("pgspec_flush", ParityFeed.stream(spark, feed),
            flush = Some { () =>
              q = spark.streams.active
                .find(_.name.startsWith("stream_pgspec_flush_")).get
              dataBatchesAtFlush = q.recentProgress.count(_.numInputRows > 0)
              ParityFeed.sentinel(spark, feed, -1L, maxTs + sec(100))
            }) { t =>
          viewsDuringRead = sinkViews()
          t.select(col("id")).as[Long].collect().toSeq
        }
        assert(dataBatchesAtFlush == 1, "the first drain consumes the staged data")
        assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
          == Seq(50L, 1L), "staged data and sentinel land in separate batches")
        assert(ids.sorted == (-1L +: (1L to 50L)))
        assert(viewsDuringRead.size == 1)
        assert(sinkViews().isEmpty, "the sink view survived a normal return")
      }
    }
  }

  test("the sink view is dropped when the query throws") {
    val boom = udf { (id: Long) =>
      if (id > 0L) throw new IllegalStateException("boom")
      id
    }
    ParityFeed.withFeed(spark, srcDf(5), slices = 1) { (feed, _) =>
      ParityGate(spark) { gate =>
        intercept[Exception] {
          gate.sink("pgspec_throw",
            ParityFeed.stream(spark, feed).select(boom(col("id")).as("id")))(
            _.count())
        }
      }
    }
    assert(sinkViews().isEmpty, "a failing query leaked its sink view")
  }

  test("the sink view is dropped when the late-drop check fails") {
    // the staged row moves the watermark to sec(990); the no-data
    // batch that follows (re-enabled here) moves the late-row filter
    // there too, so the flush row at sec(50) is dropped before the
    // stateful operator
    val staged = Seq(StreamingThrottle.InEvent(2L, "c", sec(1000), 1L)).toDF()
    ParityFeed.withFeed(spark, staged, slices = 1) { (feed, _) =>
      ParityGate(spark) { gate =>
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        val events = ParityFeed.stream(spark, feed)
          .withColumn("ts", timestamp_micros(col("tsMicros")))
          .withWatermark("ts", "10 seconds")
          .as[StreamingThrottle.InEvent]
        val e = intercept[IllegalArgumentException] {
          gate.sink("pgspec_late",
            StreamingThrottle.keptCounts(spark, events, gapSeconds = 10L),
            flush = Some(() => ParityFeed.sentinel(spark, feed, 1L, "c",
              sec(50), 2L)))(_.count())
        }
        assert(e.getMessage.contains("silently undercounts"))
      }
    }
    assert(sinkViews().isEmpty, "a failing late-drop check leaked its sink view")
  }

  test("source guard: no memory sink under src/main outside ParityGate") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "ParityGate.scala")
      .filter(p => Files.readString(p).contains("format(\"memory\")"))
      .map(_.toString).toList
    finally walk.close()
    assert(offenders.isEmpty,
      s"start gate streams through ParityGate, not a hand-copied memory sink: $offenders")
  }
}
