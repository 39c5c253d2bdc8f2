package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.flow.{FlowRunner, FlowSpec}
import graft.streaming.TraceAssembly
import graft.xes.{XesParser, XesReader, XesSparkValidator}

/** Result of a fully consumed op, judged. `rows`/`schema` are kept for
  * ops whose first result is compared against the DuckDB oracle. */
final case class Outcome(digest: String, ok: Boolean, detail: String = "",
    rows: Array[Row] = null, schema: StructType = null)

/** One closed-loop operation. `build` is the call that returns a handle
  * (a DataFrame, or the result of an eager call); `consume` fully
  * consumes it; `check` judges the consumed value and is not timed.
  * `oracle` marks ops whose first result is also dumped for the
  * DuckDB oracle comparison. */
final case class Op(name: String, module: String, inputRows: Long, oracle: Boolean,
    build: SparkSession => AnyRef, consume: AnyRef => AnyRef, check: AnyRef => Outcome)

/** Generated inputs of one run: the table dir, row counts per table and
  * the XES corpus with the counts and directly-follows graph the
  * generator knows. */
final class Inputs(val dataDir: String) {
  private val mapper = new ObjectMapper()
  val manifest: JsonNode = mapper.readTree(new File(s"$dataDir/manifest.json"))
  def rows(table: String): Long = manifest.path("rows").path(table).asLong(0L)
  def xesDir: String = s"$dataDir/xes"
  def xes: JsonNode = manifest.path("xes")
  def xesTraces: Long = xes.path("traces").asLong
  def xesEvents: Long = xes.path("events").asLong
  /** (from, to) -> n over every case of the corpus */
  def xesDfg: Map[(String, String), Long] = xes.path("dfg").elements().asScala
    .map(e => (e.get(0).asText, e.get(1).asText) -> e.get(2).asLong).toMap
}

object Workloads {

  private lazy val registry = SparkEntry.queries

  /** Batch event-log queries over `events`, one per family: the DFG, a
    * DSL filter, a decision-point miner, sessions and an as-of join.
    * With the XES ops they make the batch workload. */
  val mining: Seq[(String, String)] = Seq(
    "q_dfg_edges" -> "ops", "q_filter_concept_match" -> "dsl", "q_decision_points" -> "ops",
    "q_sessionize" -> "ops", "q_asof_last_click" -> "ops")

  /** Streaming parity gates: a windowed aggregation under a watermark and
    * the streaming log statistics. */
  val stream: Seq[String] = Seq("q_stream_hopping_parity", "q_stream_stats_parity")

  /** Segments of the flagship flow, in pipe order (the source first). */
  val flowSegments: Seq[String] = Seq("XesReader", "Repair", "Validator", "Statistics",
    "DFGGenerator", "Sample", "Split", "Statistics", "XesWriter")

  /** Ops that read the XES corpus. */
  val xesOps: Set[String] = Set("xes_read", "xes_validate", "flow", "xes_stream")

  lazy val oracleSql: Map[String, String] = SparkEntry.oracleSql

  private def registryOp(in: Inputs, q: String, module: String): Op = {
    val fn = registry.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))
    // every registry op of both workloads reads the whole `events` table
    Op(q, module, in.rows("events"), oracle = oracleSql.contains(q),
      build = s => fn(s, in.dataDir),
      consume = h => { val df = h.asInstanceOf[DataFrame]; (df.collect(), df.schema) },
      check = v => {
        val (rows, schema) = v.asInstanceOf[(Array[Row], StructType)]
        Outcome(Canon.digest(rows, schema), ok = true, rows = rows, schema = schema)
      })
  }

  /** The workload's ops; `scratch`, a directory of the run's own, holds
    * what the ops write. */
  def ops(workload: String, in: Inputs, scratch: String): Seq[Op] = workload match {
    case "mining_xes" => mining.map { case (q, m) => registryOp(in, q, m) } ++
      Seq(xesRead(in), xesValidate(in), flow(in, scratch))
    case "stream_gates" => stream.map(q => registryOp(in, q, "stream")) :+ xesStream(in, scratch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- XES reader and validator ----

  private def xesGlob(in: Inputs) = s"${in.xesDir}/*.xes"

  private def xesRead(in: Inputs): Op = Op("xes_read", "xes", in.xesEvents, oracle = false,
    build = s => XesReader.read(s, xesGlob(in)),
    consume = h => {
      val x = h.asInstanceOf[XesReader.XLog]
      (x.traces.collect(), x.events.collect())
    },
    check = v => {
      val (ts, es) = v.asInstanceOf[(Array[graft.xes.XesModel.XesTrace], Array[graft.xes.XesModel.XesEvent])]
      val seqs = es.map(e => s"${e.file}|${e.traceIdx}|${e.seq}|${e.activity}|${e.tsMicros}").sorted
      Outcome(Canon.sha256(seqs.mkString("\n")),
        ts.length == in.xesTraces && es.length == in.xesEvents,
        s"${ts.length} traces / ${es.length} events vs ${in.xesTraces} / ${in.xesEvents}")
    })

  /** The generated corpus declares only globals every component carries,
    * so the distributed validator must find nothing. */
  private def xesValidate(in: Inputs): Op = Op("xes_validate", "xes", in.xesEvents, oracle = false,
    build = s => XesSparkValidator.violations(s, XesReader.read(s, xesGlob(in))),
    consume = h => h.asInstanceOf[DataFrame].collect(),
    check = v => {
      val rows = v.asInstanceOf[Array[Row]]
      Outcome(Canon.sha256(rows.map(_.toString).sorted.mkString("\n")), rows.isEmpty,
        s"${rows.length} violations, e.g. ${rows.headOption.getOrElse("")}")
    })

  // ---- flagship flow ----

  /** Directly-follows edges of ordered activity sequences. */
  private def dfgOf(traces: Iterable[Seq[String]]): Map[(String, String), Long] =
    traces.iterator.flatMap(a => a.zip(a.drop(1))).toSeq.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }

  private def flow(in: Inputs, scratch: String): Op = {
    val out = s"$scratch/flow_out"
    def seg(name: String, attrs: Map[String, Any] = Map.empty, artifact: Option[String] = None) =
      FlowSpec.Segment(name, attrs, artifactSender = artifact.toSeq)
    // XesReader → Repair → Validator → Statistics → DFGGenerator →
    // Sample(0.1) → Split(0.8) → Statistics → XesWriter
    val spec = FlowSpec.Flow(Seq(FlowSpec.Pipe("flagship",
      seg("XesReader", Map("path" -> xesGlob(in))),
      Seq(seg("Repair"), seg("Validator"), seg("Statistics", artifact = Some("raw")),
        seg("DFGGenerator", artifact = Some("dfg")),
        seg("Sample", Map("ratio" -> 0.1, "seed" -> 0L)),
        seg("Split", Map("ratio" -> 0.8, "seed" -> 0L)),
        seg("Statistics", artifact = Some("train"))),
      Some(seg("XesWriter", Map("path" -> out))))))
    Op("flow", "flow", in.xesEvents, oracle = false,
      build = s => FlowRunner.run(s, spec),
      consume = h => {
        val r = h.asInstanceOf[FlowRunner.FlowResult]
        r.unpersist()
        // the written logs are part of the result: read them back (one
        // input log is written to `out` itself, several into it)
        val o = new File(out)
        val files = if (o.isFile) Array(o) else Option(o.listFiles).getOrElse(Array.empty[File])
        val written = files.sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath)).toSeq
        (r.artifacts, written)
      },
      check = v => {
        val (arts, written) = v.asInstanceOf[(Map[String, Any], Seq[(String, Array[Byte])])]
        val raw = arts("raw").asInstanceOf[FlowRunner.Statistics]
        val train = arts("train").asInstanceOf[FlowRunner.Statistics]
        val dfg = arts("dfg").asInstanceOf[Seq[(String, String, Long)]]
          .map { case (a, b, n) => (a, b) -> n }.toMap
        val reread = written.map { case (f, b) => XesParser.parse(f, b).counts }
          .foldLeft(Seq(0L, 0L, 0L))((a, c) => a.zip(c).map { case (x, y) => x + y })
        val problems = Seq(
          Option.when(raw.counts != Seq(in.xesTraces, in.xesEvents, in.xesEvents))(
            s"raw statistics ${raw.counts} vs ${in.xesTraces} traces / ${in.xesEvents} events"),
          Option.when(dfg != in.xesDfg)(s"DFG of ${dfg.size} edges differs from the generator's"),
          // an empty branch renders no log at all
          Option.when((written.isEmpty && train.nTraces > 0) || reread != train.counts)(
            s"written logs re-parse to $reread vs train statistics ${train.counts}")).flatten
        val digest = Canon.sha256((Seq(raw.counts, train.counts).map(_.mkString(",")) ++
          dfg.toSeq.sorted.map(_.toString) ++ written.map { case (f, b) => f + ":" + Canon.sha256(b) })
          .mkString("\n"))
        Outcome(digest, problems.isEmpty, problems.mkString("; "))
      })
  }

  // ---- XES stream source into trace assembly ----

  private val streamRun = new AtomicLong()

  private def sentinelXes(name: String, iso: String): String =
    s"""<?xml version="1.0" encoding="UTF-8" ?>
       |<log xes.version="1.0">
       |<string key="concept:name" value="$name"/>
       |<trace><string key="concept:name" value="$name"/>
       |<event><string key="concept:name" value="sentinel"/><date key="time:timestamp" value="$iso"/></event>
       |</trace>
       |</log>
       |""".stripMargin

  /** The corpus is staged into a drop directory once, with a sentinel
    * log far in the future. All of it arrives in one micro-batch, which
    * moves the watermark past every real trace; the no-data batch that
    * follows fires their event-time timeouts. Every real trace must
    * close exactly once, with the generator's event count and
    * directly-follows graph; the sentinel's trace stays open. */
  private def xesStream(in: Inputs, scratch: String): Op = {
    val drop = Paths.get(scratch, "xes_stream_drop")
    Files.createDirectories(drop)
    Option(new File(in.xesDir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".xes"))
      .foreach(f => Files.copy(f.toPath, drop.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING))
    Files.writeString(drop.resolve("zz_sentinel.xes"), sentinelXes("zz_sentinel", "2100-01-01T00:00:00.000+00:00"))
    Op("xes_stream", "stream", in.xesEvents, oracle = false,
      build = s => {
        import s.implicits._
        val events = XesReader.readEventsStream(s, drop.toString)
          .filter(col("traceIdx").isNotNull)
          .select(concat_ws("#", col("file"), col("traceIdx")).as("caseId"),
            col("activity"), col("tsMicros"))
          .withColumn("ts", timestamp_micros(col("tsMicros")))
          .withWatermark("ts", "60 days")
          .as[TraceAssembly.InEvent]
        val name = s"bench_xes_stream_${streamRun.incrementAndGet()}"
        val q = TraceAssembly.assemble(s, events, gapSeconds = 3600L).writeStream
          .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
        q.exception.foreach(e => throw e)
        name -> s.table(name)
      },
      consume = h => {
        val (name, df) = h.asInstanceOf[(String, DataFrame)]
        val rows = df.collect()
        df.sparkSession.catalog.dropTempView(name)
        rows
      },
      check = v => {
        val ts = v.asInstanceOf[Array[Row]].map(r =>
          (r.getString(0), r.getLong(1), r.getSeq[String](4))).filterNot(_._1.startsWith("zz_sentinel"))
        val events = ts.map(_._2).sum
        val dfg = dfgOf(ts.map(_._3.toSeq))
        val problems = Seq(
          Option.when(ts.length != in.xesTraces || ts.map(_._1).distinct.length != ts.length)(
            s"${ts.length} closed traces vs ${in.xesTraces}"),
          Option.when(events != in.xesEvents)(s"$events events in closed traces vs ${in.xesEvents}"),
          Option.when(dfg != in.xesDfg)(s"DFG of the closed traces differs from the generator's")).flatten
        Outcome(Canon.sha256(ts.map { case (c, n, a) => s"$c|$n|${a.mkString(">")}" }.sorted.mkString("\n")),
          problems.isEmpty, problems.mkString("; "))
      })
  }
}
