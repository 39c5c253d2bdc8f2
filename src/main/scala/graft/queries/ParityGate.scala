package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.LateDrops

/** The memory-sink harness every batch↔stream parity gate runs (the
  * contract is stated in [[ParityFeed]]'s header). [[apply]] opens a
  * gate scope at the gates' stream parallelism; the [[Gate]] handle it
  * passes in is the only way to start a gate stream, so every gate
  * stream is planned inside that scope. Feed staging, baselines and
  * result folds run inside the same scope, at the same partition
  * count as the stream. */
private[graft] object ParityGate {

  /** `spark.sql.shuffle.partitions` of every gate scope (see
    * [[ParityFeed.withStreamParallelism]]). */
  private val Partitions = 8

  /** One counter for every sink name, so repeated runs of any gate in
    * one JVM never collide on a memory-sink view. */
  private val runs = new AtomicInteger(0)

  def apply[A](s: SparkSession)(f: Gate => A): A =
    ParityFeed.withStreamParallelism(s, Partitions)(f(new Gate(s)))

  final class Gate private[ParityGate] (s: SparkSession) {

    /** Runs `query` into a fresh memory sink `stream_<tag>_<n>`: drain;
      * if `flush` is given, run it (the gate's far-future sentinel
      * append, which lands as its own micro-batch) and drain again;
      * stop; fail if any row was dropped at the watermark; then hand
      * the sink table to `read`. The sink's temp view, registered at
      * `start()`, is dropped on every path, including a failing query
      * and a failing late-drop check. */
    def sink[A](tag: String, query: Dataset[_],
        mode: OutputMode = OutputMode.Append(),
        flush: Option[() => Unit] = None)(read: DataFrame => A): A = {
      val name = s"stream_${tag}_${runs.incrementAndGet()}"
      try {
        val q = query.writeStream.format("memory").queryName(name)
          .outputMode(mode).start()
        try {
          q.processAllAvailable()
          flush.foreach { f => f(); q.processAllAvailable() }
        } finally q.stop()
        LateDrops.assertNone(q, name)
        read(s.table(name))
      } finally s.catalog.dropTempView(name)
    }

    /** [[sink]] for a gate whose answer is a DataFrame over the sink
      * table: the answer is materialized ([[local]]) before the view
      * is dropped. */
    def collect(tag: String, query: Dataset[_],
        mode: OutputMode = OutputMode.Append(),
        flush: Option[() => Unit] = None)(
        read: DataFrame => DataFrame): DataFrame =
      sink(tag, query, mode, flush)(t => local(s, read(t)))
  }

  /** A bounded gate answer collected to the driver and handed back as
    * a local DataFrame, so no later action re-reads a sink view or a
    * feed file that is gone once its bracket exits. */
  def local(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }
}
