package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run: a closed loop with one client calling the gates of
  * one workload in seeded order, every output checked against the expected
  * table.
  *
  *   perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *     --data DIR --expected FILE --out DIR --nproc N
  *     [--scale SF] [--source-id ID] [--commit SHA]
  *
  * Set-up (session start and untimed warm-up passes at the next-smaller
  * scale) is followed by one cold pass, the first call of each gate at the
  * timed scale, and then the timed phase: whole passes until at least T
  * seconds have passed. Every pass is a fresh seeded permutation of the gate
  * set, and every call's output is checked. With --trace 1 every second
  * timed pass is traced (spans and Spark events), the others are not, and
  * the run reports per-layer metrics plus the tracing overhead between the
  * two kinds of pass; with --trace 0 nothing is traced and the run reports
  * the end-to-end metrics. The last stdout line is the result. */
object Main {
  private final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, expected: String, out: String, nproc: Int,
      scale: Option[String], sourceId: String, commit: String)

  /** One finished gate call. `extra` holds the per-layer readings of a
    * traced call. */
  private final case class Call(gate: String, traced: Boolean, seconds: Double,
      ok: Boolean, rows: Long, extra: Map[String, Double])

  /** Warm-up passes at the smaller scale. Pass times fall steeply from the
    * first pass to the second and by 5-15% after that. JIT time in the
    * timed phase hardly changes with more passes (measured with 1, 2 and 4),
    * while each pass adds to set-up and to the run. */
  private val WarmPasses = 2

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("expected"), m("out"),
      m("nproc").toInt, m.get("scale"), m.getOrElse("source-id", "unknown"),
      m.getOrElse("commit", ""))
  }

  def main(args: Array[String]): Unit = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadStart = os.getSystemLoadAverage
    val started = ProcessHandle.current().info().startInstant()
    val startMs = if (started.isPresent) started.get.toEpochMilli
      else ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val w = Gates.workloads(o.workload)
    val (sf, warmSf) = o.scale.map(s => (s, s)).getOrElse((w.sf, w.warmSf))
    val n = math.max(1, math.min(4, o.nproc))
    val spark = Gates.session(n)
    val sc = spark.sparkContext
    val expected = Gates.readExpected(o.expected)
    val fns = graft.SparkEntry.queries
    val rng = new scala.util.Random(o.seed)
    val tracer = new Trace
    var nextCall = 0

    /** Call one gate, fold its output, and check it against the table. */
    def call(gate: String, scale: String, traced: Boolean): Call = {
      val dir = s"${o.data}/$scale"
      nextCall += 1
      val id = nextCall
      def phase[T](parent: Int, name: String)(body: Int => T): T =
        if (traced) tracer.span(sc, id, parent, name)(body) else body(-1)
      val t0 = System.nanoTime()
      try {
        val (row, extra) = phase(-1, "gate") { root =>
          val df = phase(root, "queries.build")(_ => fns(gate)(spark, dir))
          val h = phase(root, "plans.plan") { _ =>
            val h = Gates.hashed(df)
            h.queryExecution.executedPlan
            h
          }
          val row = phase(root, "exec.collect")(_ => h.collect()(0))
          (row, if (traced) traceReadings(spark, h) else Map.empty[String, Double])
        }
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] $gate@$scale $secs%.3f s")
        val got = (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
        val ok = expected.get((scale, gate)).contains(got)
        if (!ok) System.err.println(s"[perfbench] $gate@$scale: got " +
          s"(hash, rows) $got, expected ${expected.get((scale, gate))}")
        Call(gate, traced, secs, ok, got._2, extra)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $gate@$scale FAILED: $e")
        Call(gate, traced, (System.nanoTime() - t0) / 1e9, ok = false, 0L,
          Map.empty)
      }
    }

    // ---- set-up: session (above) and the untimed warm-up passes ----
    val warmPassS = ArrayBuffer.empty[Double]
    val warm = (1 to WarmPasses).flatMap { _ =>
      val p0 = System.nanoTime()
      val done = rng.shuffle(w.gates).map(g => call(g, warmSf, traced = false))
      warmPassS += (System.nanoTime() - p0) / 1e9
      done
    }
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    // ---- cold pass: the first call of every gate at the timed scale. Kept
    // out of the timed phase: its share of a run would change with the
    // number of timed passes that fit, and so with machine speed ----
    val c0 = System.nanoTime()
    val cold = rng.shuffle(w.gates).map(g => call(g, sf, traced = false))
    val coldS = (System.nanoTime() - c0) / 1e9

    // ---- timed phase: whole passes until `seconds` have passed ----
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = ManagementFactory.getCompilationMXBean
    val (cpu0, gc0, jit0, ticks0) =
      (os.getProcessCpuTime, gcMs(), jit.getTotalCompilationTime, cpuTicks())
    val calls = ArrayBuffer.empty[Call]
    val passWall = ArrayBuffer.empty[(Boolean, Double, Int)] // traced, s, calls
    val passJit = ArrayBuffer(jit0 / 1e3) // JIT seconds so far, after each pass
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run alternates traced and untraced passes, at least one each
    var pass = 0
    while (elapsed < o.seconds ||
        (o.trace && !(passWall.exists(_._1) && passWall.exists(!_._1)))) {
      pass += 1
      val traced = o.trace && pass % 2 == 1
      if (traced) {
        sc.addSparkListener(tracer.sparkListener)
        spark.streams.addListener(tracer.streamListener)
      }
      val p0 = System.nanoTime()
      val done = rng.shuffle(w.gates).map(g => call(g, sf, traced))
      passWall += ((traced, (System.nanoTime() - p0) / 1e9, done.size))
      passJit += jit.getTotalCompilationTime / 1e3
      calls ++= done
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer.sparkListener)
        spark.streams.removeListener(tracer.streamListener)
        tracer.closeEvents()
      }
    }
    val wall = elapsed
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val stealFrac = (ticks0, cpuTicks()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }
    val gcS = (gcMs() - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    // heap still in use after a full GC; Spark's cleaner frees broadcast and
    // shuffle state only after a GC has cleared their references, so take
    // the least of a few GC rounds
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    // ---- context: calibration scan (never a gated metric) ----
    val calib = {
      val c0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, n).agg(bit_xor(xxhash64(col("id"))))
        .collect()
      (System.nanoTime() - c0) / 1e9
    }

    val failed = (cold ++ calls).count(!_.ok)
    val lat = calls.filter(_.ok).map(_.seconds).sorted.toSeq
    // the tail is the highest percentile with at least 10 calls beyond it;
    // with fewer than 11 calls no such percentile exists and the slowest
    // call stands in (the context records which percentile was reported)
    val tailP = if (lat.size > 10) (lat.size - 10.0) / lat.size else 1.0
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("gates_per_s", calls.size / wall, "1/s"),
        ("gate_p50_s", quantile(lat, 0.5), "s"),
        ("gate_tail_s", quantile(lat, tailP), "s"),
        ("cpu_s_per_gate", cpuS / math.max(1, calls.size), "s"),
        ("heap_after_gc_mb", heapMb, "MB"))
      else perLayer(spark, o, w, sf, n, calls.toSeq, passWall.toSeq, tracer,
        gcS, jitS, cpuS, failed)

    val outDir = new java.io.File(o.out)
    outDir.mkdirs()
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    if (o.trace) java.nio.file.Files.writeString(
      new java.io.File(outDir, s"spans-$tag.json").toPath,
      Trace.toJson(tracer.allSpans))
    val context = Json.obj(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "spark_master" -> Json.str(sc.master),
      "default_parallelism" -> sc.defaultParallelism.toString,
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "nproc" -> o.nproc.toString,
      "scale_dir" -> Json.str(s"${o.data}/$sf"),
      "warmup_scale_dir" -> Json.str(s"${o.data}/$warmSf"),
      "gates" -> w.gates.map(Json.str).mkString("[", ",", "]"),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark_version" -> Json.str(spark.version),
      "git_commit" -> Json.str(o.commit),
      "source_id" -> Json.str(o.sourceId),
      "load_avg_1m_start" -> Json.num(loadStart),
      "host_steal_frac_timed" -> Json.num(stealFrac),
      "calibration_scan_s" -> Json.num(calib),
      "timed_wall_s" -> Json.num(wall),
      "cold_pass_s" -> Json.num(coldS),
      "passes" -> passWall.size.toString,
      "calls" -> calls.size.toString,
      "calls_ok" -> lat.size.toString,
      "gate_tail_percentile" -> Json.num(100.0 * tailP),
      "warmup_calls" -> warm.size.toString,
      "warmup_pass_s" -> warmPassS.map(Json.num).mkString("[", ",", "]"),
      "warmup_failed" -> warm.count(!_.ok).toString,
      "jvm_jit_s_timed" -> Json.num(jitS),
      // JIT time per pass: flat when every call generates and compiles new
      // code, falling when warm-up was too short
      "jvm_jit_s_per_pass" -> passJit.sliding(2).map(p => Json.num(p(1) - p(0)))
        .mkString("[", ",", "]"),
      "jvm_gc_s_timed" -> Json.num(gcS))
    java.nio.file.Files.writeString(
      new java.io.File(outDir, s"context-$tag.json").toPath, context + "\n")
    println(Json.obj("context" -> context))
    spark.stop()
    val correct = failed == 0 && warm.forall(_.ok) && calls.nonEmpty
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> (cold.size + calls.size).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)))
  }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat. Steal
    * is time the hypervisor gave the virtual CPUs to other guests; its share
    * of the timed phase tells a run slowed by the host from one slowed by
    * the program. */
  private def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    Some((f(7), f.sum))
  } catch { case _: Exception => None }

  /** Harrell-Davis estimate of the p-quantile of sorted values: a
    * beta-weighted mean of all order statistics. A gate mix has a few
    * latency levels with gaps between them, and the plain order statistic
    * jumps between levels from run to run; this estimate does not. */
  private def quantile(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    if (n == 0) 0.0
    else if (p >= 1.0) sorted.last
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      sorted.indices.map { i =>
        (regularizedBeta((i + 1.0) / n, a, b) - regularizedBeta(i.toDouble / n, a, b)) *
          sorted(i)
      }.sum
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Readings of one traced call, taken after its collect. */
  private def traceReadings(spark: SparkSession, h: DataFrame): Map[String, Double] = {
    val qe = h.queryExecution
    val phases = qe.tracker.phases
    def ph(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val vol = graft.tools.PlanMetrics.exchangeVolume(h)
    val nodes = graft.tools.PlanMetrics.allNodes(qe.executedPlan)
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Map(
      "analysis" -> ph("analysis"), "optimization" -> ph("optimization"),
      "planning" -> ph("planning"),
      "shuffle_mb" -> vol.shuffleWritten / 1e6,
      "shuffle_records" -> vol.shuffleRecords.toDouble,
      "broadcast_mb" -> vol.broadcastBytes / 1e6,
      "cache_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble,
      "cache_mb" -> storage / 1e6)
  }

  /** Per-layer metrics of a traced run. */
  private def perLayer(spark: SparkSession, o: Opts, w: Workload, sf: String,
      n: Int, calls: Seq[Call], passWall: Seq[(Boolean, Double, Int)],
      tracer: Trace, gcS: Double, jitS: Double, cpuS: Double, failed: Int)
      : Seq[(String, Double, String)] = {
    val tc = calls.filter(_.traced)
    val k = math.max(1, tc.size).toDouble
    def sum(key: String) = tc.map(_.extra.getOrElse(key, 0.0)).sum
    val spans = tracer.allSpans
    val self = Trace.selfTimes(spans)
    val byName = spans.groupBy(_.name)
    def incl(name: String) =
      byName.getOrElse(name, Nil).map(s => s.end - s.start).sum / 1e9
    def selfOf(name: String) =
      byName.getOrElse(name, Nil).map(s => self(s.id)).sum / 1e9
    val buildIds = byName.getOrElse("queries.build", Nil).map(_.id).toSet
    val jobSpans = byName.getOrElse("spark.job", Nil)
    val tasks = tracer.tasks.toSeq
    val batches = tracer.batches.toSeq
    def dur(key: String) =
      batches.map(_.durations.getOrElse(key, 0L)).sum / 1e3 / k
    def gps(traced: Boolean) = {
      val p = passWall.filter(_._1 == traced)
      p.map(_._3).sum / math.max(1e-9, p.map(_._2).sum)
    }
    val tracedWall = passWall.filter(_._1).map(_._2).sum
    val taskRun = tasks.map(_.runMs).sum / 1e3
    val rowsIn = tasks.map(_.inRecords).sum.toDouble
    val rowsOut = tc.map(_.rows).sum.toDouble
    val gateS = incl("gate")

    // table resolution, cold (first read in a fresh session) and warm
    val tblSf = o.scale.getOrElse("sf0.01")
    val (cold, warm) = Tables.map { t =>
      val s = spark.newSession()
      def once() = {
        val t0 = System.nanoTime()
        graft.queries.tbl(s, s"${o.data}/$tblSf", t).schema
        (System.nanoTime() - t0) / 1e9
      }
      (once(), once())
    }.unzip

    val recall = graft.queries.Similarity.recallVsBrute(spark, s"${o.data}/$sf")
    val kernels = Kernels.run(o.seed)

    Seq(
      ("queries.build_s", incl("queries.build") / k, "s"),
      ("queries.build_self_s", selfOf("queries.build") / k, "s"),
      ("queries.build_jobs", jobSpans.count(j => buildIds(j.parent)) / k, "count"),
      ("queries.tbl_s", median(cold ++ warm), "s"),
      ("queries.tbl_cold_s", median(cold), "s"),
      ("queries.tbl_warm_s", median(warm), "s"),
      ("plans.plan_s", incl("plans.plan") / k, "s"),
      ("plans.analysis_s", sum("analysis") / k, "s"),
      ("plans.optimization_s", sum("optimization") / k, "s"),
      ("plans.planning_s", sum("planning") / k, "s"),
      ("exec.collect_s", incl("exec.collect") / k, "s"),
      ("exec.collect_self_s", selfOf("exec.collect") / k, "s"),
      ("exec.jobs", jobSpans.size / k, "count"),
      ("exec.stages", byName.getOrElse("spark.stage", Nil).size / k, "count"),
      ("exec.tasks", tasks.size / k, "count"),
      ("exec.task_run_s", taskRun / k, "s"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / k, "s"),
      ("exec.sched_wait_s", tracer.schedWaits.sum / k, "s"),
      ("exec.task_failures", tasks.count(!_.ok).toDouble, "count"),
      ("exec.core_busy_frac", taskRun / math.max(1e-9, tracedWall * n), "fraction"),
      ("exec.shuffle_write_mb", sum("shuffle_mb") / k, "MB"),
      ("exec.shuffle_records", sum("shuffle_records") / k, "count"),
      ("exec.broadcast_mb", sum("broadcast_mb") / k, "MB"),
      ("exec.spill_mb", tasks.map(_.spillBytes).sum / 1e6 / k, "MB"),
      ("exec.scan_mb", tasks.map(_.inBytes).sum / 1e6 / k, "MB"),
      ("exec.rows_scanned", rowsIn / k, "count"),
      ("exec.rows_scanned_per_row_out", rowsIn / math.max(1.0, rowsOut), "ratio"),
      ("operators.cache_scans", sum("cache_scans") / k, "count"),
      ("operators.cache_mb_peak",
        (0.0 +: tc.map(_.extra.getOrElse("cache_mb", 0.0))).max, "MB"),
    ) ++ recall.toSeq.sortBy(_._1).map { case (g, r) =>
      (s"operators.recall.$g", r, "fraction")
    } ++ Seq(
      ("operators.recall_mean", recall.values.sum / math.max(1, recall.size), "fraction"),
    ) ++ kernels.flatMap { r => Seq(
      (s"expressions.${r.name}.ns_per_row", r.nsPerRow, "ns"),
      (s"expressions.${r.name}.mb_per_s", r.mbPerS, "MB/s"))
    } ++ Seq(
      ("streaming.drain_s", incl("streaming.drain") / k, "s"),
      ("streaming.batches", batches.size / k, "count"),
      ("streaming.useful_batch_frac",
        batches.count(_.inputRows > 0).toDouble / math.max(1, batches.size), "fraction"),
      ("streaming.trigger_s", dur("triggerExecution"), "s"),
      ("streaming.add_batch_s", dur("addBatch"), "s"),
      ("streaming.query_planning_s", dur("queryPlanning"), "s"),
      ("streaming.wal_commit_s", dur("walCommit"), "s"),
      ("streaming.commit_offsets_s", dur("commitOffsets"), "s"),
      ("streaming.latest_offset_s", dur("latestOffset"), "s"),
      ("streaming.state_rows",
        batches.groupBy(_.query).values.map(_.map(_.stateRows).max).sum / k, "count"),
      ("streaming.state_commit_s", batches.map(_.stateCommitMs).sum / 1e3 / k, "s"),
      ("streaming.state_mem_mb",
        (0L +: batches.map(_.stateMemBytes)).max / 1e6, "MB"),
      ("streaming.input_rows", batches.map(_.inputRows).sum / k, "count"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.jit_s", jitS, "s"),
      ("jvm.cpu_s", cpuS, "s"),
      ("trace.gates_per_s_traced", gps(traced = true), "1/s"),
      ("trace.gates_per_s_untraced", gps(traced = false), "1/s"),
      ("trace.overhead_frac", 1.0 - gps(traced = true) / gps(traced = false), "fraction"),
      ("trace.gate_self_s", selfOf("gate") / k, "s"),
      ("trace.gate_coverage",
        (incl("queries.build") + incl("plans.plan") + incl("exec.collect")) /
          math.max(1e-9, gateS), "fraction"),
      ("check.failed_frac", failed.toDouble / (cold.size + calls.size), "fraction"),
    )
  }
}

/** Just enough JSON writing for the result and context lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
