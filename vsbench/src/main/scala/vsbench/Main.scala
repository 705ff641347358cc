package vsbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.{Metric, SimdSupport}

/** The benchmark harness. One run: generate the workload's inputs from the
  * seed, set the index up `setupReps` times, warm up, then send read
  * batches (and, on graph-upsert, upserts) from one client in a closed
  * loop for `--seconds`, checking every answer against the exact truth.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` splits the loop
  * into an untraced and a traced half and prints the per-layer metrics,
  * the self time of each span kind along the blocking path, and the
  * tracing overhead (traced minus untraced median read wall).
  *
  * The last stdout line is one JSON object:
  * {"correct", "attempted", "failed", "metrics"}. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, out: Path,
                        source: String, commit: String)

  final case class OpRec(kind: String, ms: Double, queries: Int,
                         ok: Boolean, opId: Long)

  /** Bytes this process has read through read and pread system calls so
    * far, by every thread (Linux `rchar`); 0 where /proc is absent. Spark's
    * task input metric and Hadoop's file-system statistics both miss
    * parquet's vectored reads, which complete on another thread. */
  def processBytesRead(): Long = {
    val f = Paths.get("/proc/self/io")
    if (!Files.isReadable(f)) 0L
    else Files.readAllLines(f).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }

  val Cores = 4
  /** Untimed ops before the timed loop: at least this long, whole cycles. */
  val WarmupSeconds = 8.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("vsbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    try run(spark, o, sparkStartS)
    finally spark.stop()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("source", ""),
      m.getOrElse("commit", ""))
  }

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def run(spark: SparkSession, o: Opts, sparkStartS: Double): Unit = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    def log(what: String): Unit = System.err.println(
      f"[vsbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val wl = Workload(o.workload, spark, o.seed, o.work)
    wl.prepare()
    log("inputs generated")

    val setups = (0 until wl.setupReps).map { r =>
      val s = wl.setup(r, o.trace)
      log(f"set-up ${r + 1} took ${s.total}%.2f s")
      s
    }
    val setupS = sparkStartS + median(setups.map(_.total))

    var attempted = 0
    var failed = 0
    var wrong = 0
    var firstFailure: Option[String] = None
    def fail(msg: String, isWrong: Boolean): Unit = {
      failed += 1
      if (isWrong) wrong += 1
      if (firstFailure.isEmpty) firstFailure = Some(msg)
    }

    val tracer = new Tracer
    var tracing = false
    var nextOp = 0L
    val opSpans = mutable.Map.empty[Long, Int]
    val batches = mutable.Map.empty[Long, Batch]
    val readBytes = mutable.Map.empty[Long, Long]
    val upserts = mutable.ArrayBuffer.empty[UpsertStats]
    var recallSum = 0.0
    var recallN = 0

    /** Run `call` as one op: plain timing, or an `op` span holding an
      * `api.call` span under a per-op job group when tracing. `inner`
      * gets the call's result and the op span's index (-1 untraced). */
    def timedOp[A](call: => A)(inner: (A, Int) => Unit): (Double, Long) = {
      val id = nextOp
      nextOp += 1
      if (!tracing) {
        val t0 = System.nanoTime()
        inner(call, -1)
        ((System.nanoTime() - t0) / 1e6, id)
      } else {
        sc.setJobGroup(Tracer.GroupPrefix + id, s"vsbench op $id")
        try {
          val (_, idx) = tracer.span("op", id, -1) { root =>
            inner(tracer.span("api.call", id, root)(_ => call)._1, root)
          }
          opSpans(id) = idx
          (tracer.spans(idx).ms, id)
        } finally sc.clearJobGroup()
      }
    }

    def readOp(): OpRec = {
      val b = wl.nextBatch()
      attempted += 1
      val t0 = System.nanoTime()
      try {
        var rows: Array[org.apache.spark.sql.Row] = null
        val bytes0 = if (tracing) processBytesRead() else 0L
        val (ms, id) = timedOp(wl.read(b)) { (df, root) =>
          if (root >= 0) {
            tracer.span("plans.plan", nextOp - 1, root)(_ =>
              df.queryExecution.executedPlan)
            rows = tracer.span("exec.collect", nextOp - 1, root)(_ =>
              df.collect())._1
          } else rows = df.collect()
        }
        if (tracing) {
          readBytes(id) = processBytesRead() - bytes0
          batches(id) = b
        }
        val v = wl.check(b, rows)
        v.failure.foreach(fail(_, isWrong = true))
        recallSum += v.recallSum
        recallN += v.recallN
        OpRec("read", ms, b.size, v.failure.isEmpty, id)
      } catch {
        case e: Exception =>
          fail(describe(e), isWrong = false)
          OpRec("read", (System.nanoTime() - t0) / 1e6, b.size, ok = false, -1)
      }
    }

    def upsertOp(): OpRec = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        var opId = -1L
        val st = wl.upsert { call =>
          val (ms, id) = timedOp(call())((_, _) => ())
          opId = id
          ms
        }
        upserts += st
        OpRec("upsert", st.wallMs, 0, ok = true, opId)
      } catch {
        // only reads have the known serveCold defect; a failed upsert
        // leaves the store unknown, so every later answer is suspect
        case e: Exception =>
          fail(describe(e), isWrong = true)
          OpRec("upsert", (System.nanoTime() - t0) / 1e6, 0, ok = false, -1)
      }
    }

    /** Ops until `seconds` have passed and, on a workload with upserts, a
      * cycle has ended, so every timed phase holds whole cycles. With
      * `alternate`, every other read and every other upsert is traced. */
    def loop(seconds: Double, alternate: Boolean): Seq[OpRec] = {
      val recs = mutable.ArrayBuffer.empty[OpRec]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (recs.isEmpty || System.nanoTime() < deadline ||
          (wl.hasUpserts && !wl.upsertDue)) {
        val up = wl.upsertDue
        // reads alternate from untraced, upserts from traced
        val seen = recs.count(_.kind == (if (up) "upsert" else "read"))
        tracing = alternate && seen % 2 == (if (up) 0 else 1)
        recs += (if (up) upsertOp() else readOp())
      }
      tracing = false
      recs.toSeq
    }

    loop(WarmupSeconds, alternate = false)
    upserts.clear()
    recallSum = 0.0
    recallN = 0
    log("warmed up")

    if (o.trace) sc.addSparkListener(tracer)
    val all = loop(o.seconds, alternate = o.trace)
    val plain = all.filter(r => !opSpans.contains(r.opId))
    val traced = all.filter(r => opSpans.contains(r.opId))
    val timedUpserts = upserts.toSeq
    val counters =
      if (o.trace) {
        val c = tracer.settle(sc, opSpans.toMap)
        sc.removeSparkListener(tracer)
        c
      } else Map.empty[Long, OpCounters]

    log("timed phase done")
    val finalRecall = wl.finalRecall(fail(_, isWrong = true),
      fail(_, isWrong = false))
    finalRecall.foreach { case (_, calls) => attempted += calls }

    val storeBytes = wl.storeBytes
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, (Double, String)]

    val reads = plain.filter(_.kind == "read")
    val phaseMs = plain.map(_.ms).sum
    val answered = reads.filter(_.ok).map(_.queries).sum
    // a failed read ranks above every answered one: it misses every limit
    val ranked = reads.map(r => if (r.ok) r.ms else Double.PositiveInfinity)
      .sorted
    def pct(p: Double): Double = {
      if (ranked.isEmpty) phaseMs
      else {
        val v = ranked(math.max(0, math.ceil(p * ranked.length).toInt - 1))
        if (v.isInfinite) phaseMs else v
      }
    }
    val upsertMs = timedUpserts.map(_.wallMs)
    val upsertP50 = median(upsertMs)
    val upsertRate = if (upsertMs.isEmpty) 0.0
      else timedUpserts.map(_.rows).sum / (upsertMs.sum / 1e3)

    if (!o.trace) {
      m("setup_s") = (setupS, "s")
      m("qps") = (answered / (phaseMs / 1e3), "1/s")
      m("latency_p50_ms") = (pct(0.5), "ms")
      m("latency_p90_ms") = (pct(0.9), "ms")
      m("recall_at_10") = (finalRecall.map(_._1)
        .getOrElse(if (recallN == 0) 0.0 else recallSum / recallN), "ratio")
      m("store_bytes_per_vec_byte") =
        (storeBytes.toDouble / wl.rawVecBytes, "ratio")
    }
    extra("reads") = (reads.length.toDouble, "count")
    extra("upserts") = (timedUpserts.length.toDouble, "count")
    extra("upsert_p50_ms") = (upsertP50, "ms")
    extra("upsert_rows_per_s") = (upsertRate, "1/s")
    extra("ops_failed_frac") = (failed.toDouble / attempted, "ratio")
    extra("empty_centroids") = (wl.emptyCentroids.toDouble, "count")

    if (o.trace) {
      val tReads = traced.filter(r => r.kind == "read" && r.ok)
      val tUps = traced.filter(r => r.kind == "upsert" && r.ok)
      val rc = tReads.map(r => counters.getOrElse(r.opId, OpCounters.Empty))
      def per(f: OpCounters => Double): Double = mean(rc.map(f))
      val opMs = mean(tReads.map(_.ms))
      val pairs = if (wl.exact) wl.batchSize.toDouble * wl.n else 0.0
      val selfs = tReads.map(r => tracer.selfTimes(opSpans(r.opId)))
      val probes = tReads.flatMap(r => wl.probe(batches(r.opId)))
      val dims = wl.mixture.dims
      m("kernel.l2_pairs_per_s") = (kernelPairsPerS(Metric.L2, dims), "1/s")
      m("kernel.l2_simd_pairs_per_s") =
        (kernelPairsPerS(Metric.simd(Metric.L2), dims), "1/s")
      m("flat.pairs_per_op") = (pairs, "count")
      m("flat.task_cpu_ns_per_pair") =
        (if (pairs == 0) 0.0 else per(_.taskCpuMs) * 1e6 / pairs, "ns")
      m("sources.input_bytes_per_op") =
        (mean(tReads.map(r => readBytes(r.opId).toDouble)), "B")
      m("sources.input_rows_per_op") = (per(_.inputRows.toDouble), "count")
      m("plans.plan_ms_per_op") =
        (mean(tracer.spans.filter(_.name == "plans.plan").map(_.ms).toSeq), "ms")
      m("spark.jobs_per_op") = (per(_.jobs.toDouble), "count")
      m("spark.stages_per_op") = (per(_.stages.toDouble), "count")
      m("spark.tasks_per_op") = (per(_.tasks.toDouble), "count")
      m("spark.task_run_ms_per_op") = (per(_.taskRunMs), "ms")
      m("spark.task_cpu_ms_per_op") = (per(_.taskCpuMs), "ms")
      m("spark.sched_wait_ms_per_op") = (per(_.schedWaitMs), "ms")
      m("spark.driver_ms_per_op") = (opMs - per(_.jobUnionMs), "ms")
      m("spark.shuffle_bytes_per_op") = (per(_.shuffleBytes.toDouble), "B")
      m("spark.gc_ms_per_op") = (per(_.gcMs), "ms")
      m("spark.core_util") =
        (if (opMs == 0) 0.0 else per(_.taskRunMs) / opMs / Cores, "ratio")
      m("vamana.probe_ms_per_op") = (mean(probes.map(_._2)), "ms")
      m("vamana.shards_probed_per_op") =
        (mean(probes.map(_._1.size.toDouble)), "count")
      m("vamana.walk_us_per_query") = (wl.walkUsPerQuery(), "us")
      m("vamana.build_s") = (median(setups.map(_.buildS)), "s")
      m("vamana.build_dist_calls") =
        (median(setups.map(_.buildDistCalls.toDouble)), "count")
      m("kmeans.train_s") = (median(setups.map(_.trainS)), "s")
      m("kmeans.assign_s") = (median(setups.map(_.assignS)), "s")
      m("layout.write_s") = (median(setups.map(_.writeS)), "s")
      m("layout.open_ms") = (median(setups.map(_.openMs)), "ms")
      m("layout.store_bytes") = (if (wl.exact) 0.0 else storeBytes.toDouble, "B")
      m("layout.upsert_p50_ms") = (upsertP50, "ms")
      m("layout.upsert_rows_per_s") = (upsertRate, "1/s")
      m("layout.upsert_shards_touched") =
        (mean(timedUpserts.map(_.shardsTouched.toDouble)), "count")
      m("layout.upsert_files_rewritten") =
        (mean(timedUpserts.map(_.filesRewritten.toDouble)), "count")
      m("layout.upsert_bytes_written_per_user_byte") =
        (if (timedUpserts.isEmpty) 0.0
         else timedUpserts.map(_.bytesWritten).sum.toDouble /
           timedUpserts.map(_.userBytes).sum, "ratio")
      m("layout.upsert_jobs_per_op") = (mean(tUps.map(r =>
        counters.get(r.opId).map(_.jobs.toDouble).getOrElse(0.0))), "count")
      Seq("op" -> "harness", "api.call" -> "api", "plans.plan" -> "plan",
        "exec.collect" -> "collect", "spark.job" -> "spark_job",
        "spark.stage" -> "spark_stage").foreach { case (span, layer) =>
        m(s"self.${layer}_ms_per_op") =
          (mean(selfs.map(_.getOrElse(span, 0.0))), "ms")
      }
      // the self times of one op add up to its wall; their mean over ops
      // is compared with the median op wall
      val pathMs = mean(selfs.map(_.values.sum))
      val tP50 = median(tReads.map(_.ms))
      val pP50 = median(reads.filter(_.ok).map(_.ms))
      m("trace.op_ms_p50") = (tP50, "ms")
      m("trace.path_ms_per_op") = (pathMs, "ms")
      m("trace.path_gap_frac") =
        (if (tP50 == 0) 0.0 else (pathMs - tP50) / tP50, "ratio")
      m("trace.overhead_ms_per_op") = (tP50 - pP50, "ms")
      m("trace.overhead_frac") =
        (if (pP50 == 0) 0.0 else (tP50 - pP50) / pP50, "ratio")
      m("trace.spans") = (tracer.spans.length.toDouble, "count")
      tracer.writeJsonLines(o.out.resolve(
        s"${o.workload}-seed${o.seed}.spans.jsonl"))
    }

    log("metrics done")
    val correct = wrong == 0
    val prov = provenance(spark, o, wl)
    def jmap(xs: Iterable[(String, (Double, String))]): String =
      xs.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val record =
      s"""{"workload":"${o.workload}","seed":${o.seed},""" +
        s""""seconds":${o.seconds},"trace":${if (o.trace) 1 else 0},""" +
        s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""first_failure":${firstFailure.map(jstr).getOrElse("null")},""" +
        s""""metrics":${jmap(m)},"extra":${jmap(extra)},""" +
        s""""setups":[${setups.map(s => num(s.total)).mkString(",")}],""" +
        s""""read_ms":[${reads.map(r => num(r.ms)).mkString(",")}],""" +
        s""""upsert_ms":[${upsertMs.map(num).mkString(",")}],""" +
        s""""spark_start_s":${num(sparkStartS)},""" +
        s""""provenance":$prov}"""
    Files.write(o.out.resolve(
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      record.getBytes("UTF-8"))

    println(s"workload ${o.workload} seed ${o.seed} " +
      s"(${reads.length} reads, ${timedUpserts.length} upserts timed)")
    println(s"provenance $prov")
    (m ++ extra).foreach { case (k, (v, u)) => println(f"  $k%-42s $v%.6g $u") }
    firstFailure.foreach(f => println(s"first failure: $f"))
    println(s"""{"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${jmap(m)}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  /** Single-thread pairs per second of one distance kernel at `dims`. */
  private def kernelPairsPerS(metric: Metric, dims: Int): Double = {
    val r = new java.util.SplittableRandom(dims)
    val rows = Array.fill(1024)(Array.fill(dims)(r.nextDouble()))
    val q = Array.fill(dims)(r.nextDouble())
    var acc = 0.0
    def pass(): Unit = rows.foreach(x => acc += metric.compute(q, x))
    (0 until 200).foreach(_ => pass()) // warm the JIT
    val passes = 2000
    val t0 = System.nanoTime()
    (0 until passes).foreach(_ => pass())
    val s = (System.nanoTime() - t0) / 1e9
    sink = acc // keeps the loop's result live
    passes * rows.length / s
  }
  @volatile private var sink = 0.0

  private def provenance(spark: SparkSession, o: Opts, wl: Workload): String = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
    val xmx = jvmArgs.filter(_.startsWith("-Xmx"))
    val store = Files.getFileStore(o.work)
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> jstr(spark.sparkContext.master),
      "xmx" -> jstr(xmx.lastOption.getOrElse("default")),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "scratch" -> jstr(o.work.toString),
      "scratch_fs" -> jstr(store.`type`),
      "scratch_tmpfs" -> (store.`type` == "tmpfs").toString,
      "simd_available" -> SimdSupport.available.toString,
      "simd_lanes" -> SimdSupport.lanes.toString,
      "jdk" -> jstr(s"${sys.props("java.vendor")} ${sys.props("java.version")}"),
      "spark" -> jstr(spark.version),
      "git_commit" -> jstr(o.commit),
      "source_sha256" -> jstr(o.source),
      "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString,
      "setup_reps" -> wl.setupReps.toString,
      "warmup_s" -> WarmupSeconds.toString,
      "params" -> wl.params.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    ).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
