package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.tools.Calib

/** Closed-loop benchmark driver for one workload in one JVM.
  *
  * Setup is timed from JVM start until the session is ready and
  * [[WarmupPasses]] warm-up passes have run, so class loading, session
  * start, JIT compilation and every JVM-lived cache the ops fill on first
  * use count towards it. The first warm-up result of every op is its
  * reference: ops with a DuckDB oracle are dumped to `--dump` for the
  * oracle comparison, and every later execution must reproduce the
  * reference digest and pass the op's own invariant check.
  *
  * Measurement runs whole passes (every op once, in a seed-shuffled
  * order, one op in flight) until `--seconds` have passed. With
  * `--trace 1` passes alternate between no listeners and the recorder
  * attached; the per-layer numbers come from the traced passes.
  *
  * Writes one JSON document to `--out`.
  */
object Main {

  final case class Exec(op: Op, id: String, pass: Int, startMs: Long, buildNs: Long,
      consumeNs: Long) {
    def seconds: Double = (buildNs + consumeNs) / 1e9
  }

  /** Warm-up passes before the window opens; all of them count towards
    * `setup_s`. */
  val WarmupPasses = 2

  private def arg(args: Array[String], k: String, d: String): String = {
    val i = args.indexOf("--" + k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else d
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload", "")
    val seed = arg(args, "seed", "1").toLong
    val seconds = arg(args, "seconds", "10").toDouble
    val traced = arg(args, "trace", "0") == "1"
    val cores = arg(args, "cores", Runtime.getRuntime.availableProcessors.toString)
    val out = arg(args, "out", "result.json")
    val dump = arg(args, "dump", "")
    val in = new Inputs(arg(args, "data", ""))
    val localDir = arg(args, "local", "tmp")

    val reference = mutable.HashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val execCount = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val stackPrinted = mutable.HashSet.empty[String]
    var seq = 0L

    def run(s: SparkSession, op: Op, pass: Int, measured: Boolean): (Exec, Outcome) = {
      seq += 1
      val id = s"${op.name}#$seq"
      s.sparkContext.setLocalProperty(Trace.OpKey, id)
      Trace.currentOp = id
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val res = try {
        val h = op.build(s)
        t1 = System.nanoTime()
        Right(op.consume(h))
      } catch { case e: Throwable => Left(e) }
      val t2 = System.nanoTime()
      // the first failure of each op goes to the driver log in full
      res.left.foreach(e => if (stackPrinted.add(op.name)) e.printStackTrace())
      s.sparkContext.setLocalProperty(Trace.OpKey, null)
      Trace.currentOp = "-"
      val outcome = res match {
        case Left(e) => Outcome("", ok = false,
          s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Right(v) =>
          try {
            val o = op.check(v)
            reference.get(op.name) match {
              case Some(d) if d != o.digest => o.copy(ok = false, detail = "result differs from the first execution")
              case None if measured => o.copy(ok = false, detail = "no checked first result to compare with")
              case _ => o
            }
          } catch { case e: Throwable => Outcome("", ok = false, s"check threw $e") }
      }
      if (measured) {
        attempted += 1
        execCount(op.name) += 1
        if (!outcome.ok) {
          failed += 1
          if (failures.size < 50) failures += s"${op.name}: ${outcome.detail}"
        }
      }
      (Exec(op, id, pass, start, t1 - t0, t2 - t1), outcome)
    }

    def order(ops: Seq[Op], pass: Int): Seq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    // ---- setup: JVM start -> session ready -> warm-up passes done ----
    val mapper = new ObjectMapper()
    val ts = System.nanoTime()
    val s = GraftSession.builder(cores)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.quietWindowWarnings()
    val sessionS = (System.nanoTime() - ts) / 1e9
    val ops = Workloads.ops(workload, in, arg(args, "scratch", s"$localDir/ops"))
    if (dump.nonEmpty) {
      Files.createDirectories(Paths.get(dump))
      val sql = mapper.createObjectNode()
      ops.filter(_.oracle).foreach(op => sql.put(op.name, Workloads.oracleSql(op.name)))
      mapper.writeValue(new File(dump, "oracle_sql.json"), sql)
    }
    val warmFailures = mutable.LinkedHashMap.empty[String, String]
    var untimedMs = 0L
    order(ops, -1).foreach { op =>
      val o = run(s, op, -1, measured = false)._2
      if (o.ok) reference(op.name) = o.digest
      else warmFailures(op.name) = o.detail
      if (o.ok && op.oracle && dump.nonEmpty && o.rows != null) {
        val u0 = System.currentTimeMillis()
        s.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dump/${op.name}")
        untimedMs += System.currentTimeMillis() - u0
      }
    }
    // further warm-up passes, checked against the references: the JIT
    // keeps compiling for several passes, and a window that opened now
    // would mostly measure how fast it gets through its queue
    for (w <- 2 to WarmupPasses; op <- order(ops, -w)) {
      val o = run(s, op, -w, measured = false)._2
      if (!o.ok && !warmFailures.contains(op.name)) warmFailures(op.name) = o.detail
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs - untimedMs) / 1000.0

    // calibration probes around the measured window
    val os = ManagementFactory.getOperatingSystemMXBean
    def calib(): Seq[Double] = Seq(Calib.probe(s), Calib.probePar(s), os.getSystemLoadAverage)
    val calibBefore = calib()

    // ---- measurement ----
    // Whole passes until the window closes. A traced run alternates
    // untraced and traced passes, so warm-up drift within the window
    // falls on both sides of the overhead comparison alike.
    val trace = new Trace
    val plainPasses = mutable.ArrayBuffer.empty[Seq[Exec]]
    val tracedPasses = mutable.ArrayBuffer.empty[Seq[Exec]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (plainPasses.isEmpty || (traced && tracedPasses.isEmpty) || System.nanoTime() < deadline) {
      val on = traced && p % 2 == 1
      if (on) trace.attach(s)
      val pass = order(ops, p).map(op => run(s, op, p, measured = true)._1)
      if (on) {
        trace.drain()
        trace.detach(s)
        tracedPasses += pass
      } else plainPasses += pass
      p += 1
    }
    val calibAfter = calib()
    val allPasses = (plainPasses ++ tracedPasses).toSeq
    val execs = allPasses.flatten

    def q(xs: Seq[Double], p: Double): Double = {
      val v = xs.sorted
      val r = p * (v.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
    def med(xs: Seq[Double]): Double = q(xs, 0.5)
    def passWall(p: Seq[Exec]): Double = p.map(_.seconds).sum
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    // peak used heap, summed over the heap pools (each pool's own peak)
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

    val lat = execs.map(_.seconds)
    val p90 = q(lat, 0.9)
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      // every input row the measured ops read ÷ the time they took
      "rows_per_s" -> (execs.map(_.op.inputRows.toDouble).sum / lat.sum, "rows/s"),
      "op_p50_s" -> (q(lat, 0.5), "s"),
      "peak_rss_mb" -> (rssMb, "MB"))

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) {
      val n = tracedPasses.size.toDouble
      val te = tracedPasses.flatten
      val sums = trace.sums
      def per(k: String, unit: String): Unit = layers(k) = (sums(k) / n, unit)
      def opS(name: String) = te.filter(_.op.name == name).map(_.seconds).sum / n
      layers("session.start_s") = (sessionS, "s")
      per("scan.input_mb", "MB"); per("scan.input_rows", "rows")
      layers("op.build_s") = (te.map(_.buildNs / 1e9).sum / n, "s")
      layers("op.consume_s") = (te.map(_.consumeNs / 1e9).sum / n, "s")
      Seq("ops", "dsl").foreach { m =>
        layers(s"$m.op_s") = (te.filter(_.op.module == m).map(_.seconds).sum / n, "s")
      }
      per("plan.analysis_s", "s"); per("plan.optimization_s", "s"); per("plan.planning_s", "s")
      layers("plan.actions") = (sums("plan.actions") / te.size, "count")
      per("exec.jobs", "count"); per("exec.stages", "count"); per("exec.tasks", "count")
      per("exec.sched_wait_s", "s")
      layers("exec.driver_only_s") = (te.map(e => trace.driverOnlyMs(e.id, e.startMs,
        e.startMs + ((e.buildNs + e.consumeNs) / 1000000L))).sum / 1000.0 / n, "s")
      per("exec.task_run_s", "s"); per("exec.task_cpu_s", "s"); per("exec.gc_s", "s")
      layers("exec.peak_mem_mb") = (sums("exec.peak_mem_mb"), "MB")
      layers("exec.failed_tasks") = (sums("exec.failed_tasks"), "count")
      per("shuffle.write_mb", "MB"); per("shuffle.read_mb", "MB"); per("shuffle.fetch_wait_s", "s")
      layers("shuffle.nonempty_frac") = (
        if (sums("shuffle.reduce_tasks") > 0) sums("shuffle.nonempty_tasks") / sums("shuffle.reduce_tasks")
        else 0.0, "ratio")
      per("spill.mem_mb", "MB"); per("spill.disk_mb", "MB")
      per("mb.batches", "count")
      layers("mb.data_batch_frac") = (
        if (sums("mb.batches") > 0) sums("mb.data_batches") / sums("mb.batches") else 0.0, "ratio")
      Seq("mb.latest_offset_s", "mb.get_batch_s", "mb.query_planning_s", "mb.add_batch_s",
        "mb.wal_commit_s", "mb.commit_s", "mb.trigger_s").foreach(per(_, "s"))
      per("state.rows_total", "rows")
      layers("state.mem_mb") = (sums("state.mem_mb"), "MB")
      per("state.commit_s", "s"); per("state.rows_dropped_late", "rows")
      per("stream.queries", "count")
      val streamWall = te.filter(_.op.module == "stream").map(_.seconds).sum
      layers("stream.harness_s") = (math.max(0.0, streamWall - sums("mb.trigger_s")) / n, "s")
      layers("xes.parse_s") = (opS("xes_read"), "s")
      layers("xes.validate_s") = (opS("xes_validate"), "s")
      layers("xes.stream_s") = (opS("xes_stream"), "s")
      // every XES op reads the whole corpus once
      layers("xes.mb") = (te.count(e => Workloads.xesOps(e.op.name)) / n *
        in.xes.path("bytes").asLong(0L) / 1048576.0, "MB")
      layers("flow.run_s") = (opS("flow"), "s")
      layers("flow.segments") = (te.count(_.op.name == "flow") / n * Workloads.flowSegments.size, "count")
      // the split each workload was chosen for, as shares of pass time
      val pass = tracedPasses.map(passWall).sum / n
      layers("pass.wall_s") = (pass, "s")
      // planning runs while none of the op's jobs does, so it is already
      // inside exec.driver_only_s
      layers("split.driver_frac") = (
        (layers("exec.driver_only_s")._1 + layers("exec.sched_wait_s")._1) / pass, "ratio")
      layers("split.task_frac") = (layers("exec.task_run_s")._1 / (cores.toDouble * pass), "ratio")
      val mbS = Seq("mb.latest_offset_s", "mb.get_batch_s", "mb.query_planning_s", "mb.add_batch_s",
        "mb.wal_commit_s", "mb.commit_s").map(layers(_)._1).sum
      layers("split.stream_frac") = ((mbS + layers("stream.harness_s")._1) / pass, "ratio")
      // fastest traced vs fastest untraced pass: the passes still get
      // faster through the window, so means would credit the drift to
      // whichever side ran first
      layers("trace.overhead_frac") = (
        tracedPasses.map(passWall).min / plainPasses.map(passWall).min - 1.0, "ratio")
    }

    // ---- artifact ----
    val doc = mapper.createObjectNode()
    def nums(node: ObjectNode, k: String, xs: Iterable[Double]): Unit = {
      val a = node.putArray(k)
      xs.foreach(x => a.add(x))
    }
    def metricsNode(k: String, m: collection.Map[String, (Double, String)]): Unit = {
      val node = doc.putObject(k)
      m.foreach { case (name, (v, u)) => node.putObject(name).put("value", v).put("unit", u) }
    }
    doc.put("workload", workload).put("seed", seed).put("seconds", seconds).put("trace", traced)
      .put("attempted", attempted).put("failed", failed)
    val fl = doc.putArray("failures")
    failures.foreach(fl.add)
    val wf = doc.putObject("warm_failures")
    warmFailures.foreach { case (k, v) => wf.put(k, v) }
    metricsNode("metrics", metrics)
    metricsNode("per_layer", layers)
    val beyond = lat.count(_ > p90)
    doc.put("samples", lat.size).put("op_p90_s", p90).put("beyond_p90", beyond)
      .put("p90_valid", beyond >= 10).put("p50_valid", lat.count(_ > q(lat, 0.5)) >= 10)
      .put("passes", allPasses.size).put("traced_passes", tracedPasses.size)
      .put("session_start_s", sessionS).put("heap_peak_mb", heapPeakMb)
      .put("fastest_pass_rows_per_s",
        allPasses.map(p => p.map(_.op.inputRows.toDouble).sum / passWall(p)).max)
    nums(doc, "pass_wall_s", allPasses.map(passWall))
    val perOp = doc.putObject("per_op")
    ops.foreach { op =>
      val es = execs.filter(_.op.name == op.name)
      val o = perOp.putObject(op.name).put("module", op.module).put("n", es.size)
        .put("build_s", es.map(_.buildNs / 1e9).sum).put("consume_s", es.map(_.consumeNs / 1e9).sum)
        .put("input_rows", op.inputRows).put("oracle", op.oracle)
        .put("executions", execCount(op.name)).put("reference", reference.getOrElse(op.name, ""))
      if (es.nonEmpty) o.put("p50_s", med(es.map(_.seconds)))
    }
    val rt = Runtime.getRuntime
    doc.putObject("env").put("nproc", rt.availableProcessors).put("cores", cores)
      .put("shuffle_partitions", s.conf.get("spark.sql.shuffle.partitions"))
      .put("heap_max_mb", rt.maxMemory / 1048576L)
      .put("java", System.getProperty("java.version")).put("spark", s.version)
    val cal = doc.putObject("calib")
    val cols = cal.putArray("columns")
    Seq("probe_s", "probe_par_s", "load_avg_1m").foreach(cols.add)
    nums(cal, "before", calibBefore)
    nums(cal, "after", calibAfter)
    val spans = doc.putArray("spans")
    trace.synchronized {
      (tracedPasses.flatten.map(e => Span(e.op.name, e.startMs,
        e.startMs + (e.buildNs + e.consumeNs) / 1000000L, s"pass ${e.pass}", e.id)) ++ trace.spans)
        .take(20000).foreach(x => spans.addArray().add(x.name).add(x.startMs).add(x.endMs)
          .add(x.parent).add(x.op))
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    mapper.writeValue(new File(out), doc)
    s.stop()
  }
}
