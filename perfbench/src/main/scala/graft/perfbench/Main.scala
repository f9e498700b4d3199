package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up one workload, warm it, time it in
  * closed loop (one client, one operation at a time), and write a result
  * file for `run.py`, which checks the outputs on DuckDB and prints the
  * metrics.
  *
  * Usage: `graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --cores C --work DIR`
  *
  * Each pass runs every operation once, in an order permuted from the
  * seed and the pass number. Set-up is everything from JVM start to the
  * first timed operation: the session, input generation and store builds
  * (three times on fresh directories, counted once at their median), and
  * the workload's untimed warm passes. A timed block repeats whole passes
  * until its length has elapsed: `--seconds`, or with `--trace 1` a
  * quarter of it for each of four blocks, untraced, traced, traced,
  * untraced, the listeners in [[Probes]] registered for the traced ones;
  * the difference of the two pass medians is the tracing overhead. */
object Main {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Wall clock in epoch ms, sub-ms resolution, on the listener's clock. */
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The session `graft.Bench` times (its AQE, split and codec block),
    * with scratch, state and checkpoint data kept in the run directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.files.maxPartitionBytes", "512m")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  final case class Exec(op: String, pass: Int, traced: Boolean, ms: Double, buildMs: Double,
                        actionMs: Double, error: Option[String], fingerprint: Option[String])

  final case class Span(id: Int, parent: Int, opId: Int, name: String, kind: String,
                        start: Double, end: Double, stages: Int = 0, tasks: Int = 0) {
    def dur: Double = end - start
  }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val in = s"$work/in"
    val out = s"$work/out"
    val stores = s"$work/stores"
    val marks = mutable.ArrayBuffer("jvm_start" -> java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble)
    def mark(name: String): Unit = marks += name -> now()
    LiveHeap.install()
    val spark = session(cores, work)
    val sc = spark.sparkContext
    mark("session")

    // ---- set-up, three times on fresh directories -------------------------
    val setups = (1 to 3).map { _ =>
      Seq(in, stores).foreach(Fs.delete)
      val t0 = now()
      workload.generate(spark, seed, in)
      val t1 = now()
      val dirs = workload.buildStores(spark, in, stores)
      val t2 = now()
      Map("generate_ms" -> (t1 - t0), "store_build_ms" -> (t2 - t1),
        "store_bytes" -> dirs.map(d => Fs.bytes(d).toDouble).sum, "total_ms" -> (t2 - t0))
    }
    val setupMid = setups.sortBy(_("total_ms")).apply(1)
    val setupReps = now() - marks.last._2
    mark("setup")
    val ops = workload.ops(spark, seed, in, out, stores)

    // ---- operation runner ------------------------------------------------
    val probes = new Probes(spark)
    val spans = mutable.ArrayBuffer.empty[Span]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    val lastOutput = mutable.Map.empty[String, Output]

    def fingerprint(o: Output): Option[String] = o match {
      case Rows(_, rows, ord) =>
        val lines = rows.toSeq.map(_.json)
        Some(Digest.of(if (ord) lines else lines.sorted))
      case JsonFiles(dir, _, ord) =>
        val files = Fs.dataFiles(dir)
        val lines = files.flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
        Some(Digest.of(if (ord) lines else lines.sorted))
      case ParquetSink(_) => None
    }

    def runOp(op: Op, pass: Int, trace: Boolean): Exec = {
      op.prepare()
      if (trace) probes.take() // drop what the previous step left behind
      // jobs whose call site is the benchmark's own (the final action on a
      // lazily built plan) count toward the module that built the plan
      sc.setLocalProperty("perfbench.module", op.module)
      val opId = id()
      val phases = mutable.ArrayBuffer.empty[Span]
      val ph = new Phases {
        private def phase[T](kind: String)(f: => T): T = {
          sc.setLocalProperty("perfbench.phase", kind)
          val s = now()
          try f finally {
            phases += Span(id(), opId, opId, op.name, kind, s, now())
            sc.setLocalProperty("perfbench.phase", null)
          }
        }
        def build[T](f: => T): T = phase("build")(f)
        def action[T](f: => T): T = phase("action")(f)
        def stream[T](f: => T): T = phase("stream")(f)
      }
      val t0 = now()
      val res = try Right(op.run(ph)) catch { case e: Throwable => Left(e) }
      val t1 = now()
      sc.setLocalProperty("perfbench.module", null)
      val bMs = phases.filter(_.kind == "build").map(_.dur).sum
      val aMs = phases.filter(_.kind != "build").map(_.dur).sum
      if (trace) {
        val (counters, jobs, batches) = probes.take()
        counters.foreach { case (k, v) => layer(k) += v }
        batchMs ++= batches
        layer("build.ms") += bMs
        layer("action.ms") += aMs
        layer("build.jobs") += jobs.count(_.phase == "build")
        if (op.module == "ops" || op.module == "Extract") layer("Load.ms") += aMs
        spans += Span(opId, 0, opId, op.name, "op", t0, t1)
        spans ++= phases
        jobs.foreach { j =>
          val parent = phases.find(p => j.startMs >= p.start - 1 && j.startMs <= p.end + 1)
            .map(_.id).getOrElse(opId)
          spans += Span(id(), parent, opId, s"job ${j.jobId} ${j.module}: ${j.site}", "job",
            j.startMs, j.endMs, j.stages, j.tasks)
        }
      }
      res match {
        case Left(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString
          Exec(op.name, pass, trace, t1 - t0, bMs, aMs, Some(msg.take(300)), None)
        case Right(o) =>
          val fp = fingerprint(o)
          lastOutput(op.name) = o
          o match {
            case JsonFiles(dir, _, _) if trace =>
              val files = Fs.dataFiles(dir)
              layer("Load.bytes_out") += files.map(_.length).sum
              layer("Load.files_out") += files.size
            case _ =>
          }
          Exec(op.name, pass, trace, t1 - t0, bMs, aMs, None, fp)
      }
    }

    def order(pass: Int): Seq[Op] =
      new scala.util.Random(seed * 7919L + pass).shuffle(ops)

    // a pass's time is its operations' time: per-operation preparation
    // (output directory clean-up) and fingerprinting are not timed
    def runPass(pass: Int, trace: Boolean): (Double, Seq[Exec]) = {
      val execs = order(pass).map(runOp(_, pass, trace))
      (execs.map(_.ms).sum, execs)
    }

    // ---- warm passes, then timed passes ----------------------------------
    val warm = (1 - workload.warmPasses to 0).map(runPass(_, trace = false))
    val warmMs = warm.map(_._1).sum
    val warmExecs = warm.flatMap(_._2)
    mark("warm")
    // JVM start to the first timed operation, the three set-up
    // repetitions counted once, at their median
    val setupS = (marks.last._2 - marks.head._2 - setupReps + setupMid("total_ms")) / 1000
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Exec], Boolean)]
    def timedBlock(trace: Boolean, blockMs: Double): Unit = {
      val start = now()
      var done = false
      while (!done) {
        val (ms, execs) = runPass(passes.size + 1, trace)
        passes += ((ms, execs, trace))
        done = now() - start >= blockMs
      }
    }
    if (!traced) timedBlock(trace = false, seconds * 1000)
    else {
      // untraced, traced, traced, untraced: the order cancels the warm-up
      // still going on, so the two medians' difference is the overhead;
      // the layer counters cover only the traced blocks
      Seq(false, true, true, false).foreach { trace =>
        if (trace) { probes.register(); probes.take() }
        timedBlock(trace, seconds * 250)
        if (trace) probes.unregister()
      }
    }

    mark("timed")

    // ---- known failures: visible, outside the timed workload -------------
    val known = workload.knownFailing.map { n =>
      n -> (try { graft.ExtQueries.queries(n)(spark, in).collect(); "ok" } catch {
        case e: Throwable => Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(200)
      })
    }.toMap

    // ---- metrics -----------------------------------------------------------
    val untracedPasses = passes.filterNot(_._3)
    val tracedPasses = passes.filter(_._3)
    val timedExecs = untracedPasses.flatMap(_._2)
    val opMs = timedExecs.map(_.ms)
    val passS = median(untracedPasses.map(_._1 / 1000).toSeq)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "query_ms_p50" -> median(opMs.toSeq),
      "query_ms_p90" -> percentile(opMs.toSeq, 0.9),
      "peak_rss_mb" -> rssMb)

    val nTraced = math.max(1, tracedPasses.size).toDouble
    // Per-layer values are means per traced pass. A time that a layer
    // only spends on one workload (a module's jobs, the NDJSON sink, the
    // micro-batch phases, store builds) is reported as a share of its
    // parent time, so no time metric reads a constant zero on the other.
    val perLayer: Map[String, Double] = if (!traced) Map.empty else {
      val tracedS = median(tracedPasses.map(_._1 / 1000).toSeq)
      val perPass = layer.map { case (k, v) => k -> v / nTraced }.toMap.withDefaultValue(0.0)
      def share(part: Double, whole: Double): Double = if (whole > 0) part / whole else 0.0
      // the benchmark's own Soql.translate calls on its templated texts
      val texts = Workloads.templated(seed).map { case (_, soql, params, _) =>
        params.foldLeft(soql) { case (acc, (k, v)) => acc.replace(s"{{ $k }}", v) }
      }
      val translateCalls = 20 * texts.size
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => texts.foreach(graft.soql.Soql.translate(_)))
      val translateMs = (System.nanoTime() - t0) / 1e6
      val modules = Probes.modules
      val counted = Seq("build.ms", "build.jobs", "action.ms", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.failed_tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
        "spark.gc_ms", "spark.task_wait_ms", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes",
        "stream.batches", "stream.state_rows", "stream.state_bytes", "Load.bytes_out",
        "Load.files_out") ++ modules.map(m => s"$m.jobs")
      val jobMs = modules.map(m => perPass(s"$m.job_ms")).sum
      val passMs = median(tracedPasses.map(_._1).toSeq)
      val trigger = perPass("stream.trigger_ms")
      counted.map(k => k -> perPass(k)).toMap ++
        modules.map(m => s"$m.job_share" -> share(perPass(s"$m.job_ms"), jobMs)) ++ Map(
        "spark.job_ms" -> jobMs,
        // Catalyst records whole milliseconds; as shares of the operations'
        // time they stay comparable across workloads
        "catalyst.analysis_share" -> share(perPass("catalyst.analysis_ms"), passMs),
        "catalyst.optimization_share" -> share(perPass("catalyst.optimization_ms"), passMs),
        "catalyst.planning_share" -> share(perPass("catalyst.planning_ms"), passMs),
        "spark.cores_busy_ratio" -> share(perPass("spark.executor_run_ms"), cores * passMs),
        "soql.translate_ms" -> translateMs,
        "soql.translate_calls" -> translateCalls.toDouble,
        "Load.share" -> share(perPass("Load.ms"), passMs),
        "store.build_share" -> share(setupMid("store_build_ms"), setupMid("total_ms")),
        "store.bytes" -> setupMid("store_bytes"),
        "stream.rows_per_s" -> share(perPass("stream.input_rows") * 1000, trigger),
        "stream.add_batch_share" -> share(perPass("stream.add_batch_ms"), trigger),
        "stream.wal_commit_share" -> share(perPass("stream.wal_commit_ms"), trigger),
        "stream.state_commit_share" -> share(perPass("stream.state_commit_ms"), trigger),
        "setup.session_s" -> (marks(1)._2 - marks.head._2) / 1000,
        "setup.warm_pass_s" -> warmMs / 1000,
        "jvm.live_heap_peak_mb" -> LiveHeap.peakMb,
        "known_failures" -> known.count(_._2 != "ok").toDouble,
        "trace.pass_s" -> tracedS,
        "trace.overhead_s" -> (tracedS - passS))
    }

    // ---- the checker's manifest: each operation's last output ------------
    val manifest = ops.map { op =>
      val base = Map[String, Any]("name" -> op.name, "module" -> op.module,
        "check" -> op.check.map(_.mode).orNull, "sql" -> op.check.map(_.sql).orNull)
      base ++ (lastOutput.get(op.name) match {
        case Some(Rows(schema, rows, ord)) =>
          val path = s"$out/${op.name}.rows.jsonl"
          Fs.write(path, rows.map(_.json).mkString("", "\n", "\n"))
          Map("kind" -> "json", "path" -> path, "schema" -> schema.json, "ordered" -> ord)
        case Some(JsonFiles(dir, schema, ord)) =>
          Map("kind" -> "json", "path" -> dir, "schema" -> schema.json, "ordered" -> ord)
        case Some(ParquetSink(dir)) => Map("kind" -> "parquet", "path" -> dir, "ordered" -> false)
        case _ => Map("kind" -> "missing")
      })
    }

    def execJson(e: Exec) = Map("op" -> e.op, "pass" -> e.pass, "traced" -> e.traced,
      "ms" -> e.ms, "build_ms" -> e.buildMs, "action_ms" -> e.actionMs, "error" -> e.error.orNull,
      "fingerprint" -> e.fingerprint.orNull)
    val result = Map[String, Any](
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cores.toString,
      "settings" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.io.") || k == "spark.master"
      },
      "versions" -> Map("spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version")),
      "setup_reps" -> setups,
      "warm" -> warmExecs.map(execJson),
      "passes" -> passes.map { case (ms, execs, tr) =>
        Map("ms" -> ms, "traced" -> tr, "execs" -> execs.map(execJson)) },
      "known_failures" -> known,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "layer_per_pass" -> layer.map { case (k, v) => k -> v / nTraced },
      "stream_batch_ms" -> Map("p50" -> median(batchMs.toSeq), "p90" -> percentile(batchMs.toSeq, 0.9),
        "n" -> batchMs.size),
      "ops" -> manifest)
    mark("written")
    Fs.write(s"$work/result.json", toJson(result ++ Map("marks" -> marks.map {
      case (k, t) => Map("phase" -> k, "at_s" -> (t - marks.head._2) / 1000) })))
    if (traced) writeTrace(s"$work/trace.json", spans.toSeq)
    spark.stop()
  }

  def toJson(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** The traced run's spans (op → build/action → job), each with its
    * parent, the shared op id, and its self time: duration minus what its
    * children cover. */
  def writeTrace(path: String, spans: Seq[Span]): Unit = {
    val kids = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val self = s.dur - covered(kids.getOrElse(s.id, Nil).filter(_.id != s.id).map(k => (k.start, k.end)))
      Map("id" -> s.id, "parent" -> s.parent, "op_id" -> s.opId, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur,
        "self_ms" -> self, "stages" -> s.stages, "tasks" -> s.tasks)
    }
    Fs.write(path, toJson(rows))
  }
}

object Digest {
  def of(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
