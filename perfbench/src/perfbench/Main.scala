package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Closed-loop benchmark of the graft operators: one seeded workload per
  * process, one driver thread calling the public operators one after
  * another (1 client) on local[nproc]. Every call's output is forced
  * through the noop sink and checked. The last stdout line is the result:
  * `{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
  * metrics when `--trace 0` and the per-layer metrics when `--trace 1`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <dir for spans and Spark scratch files>
  */
object Main {
  /** How often the input set-up (generate, cache) runs; its median counts. */
  val SetupReps = 3
  val MinPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      need("out"))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  /** 64-bit hash of a row: the values and null positions, in column order. */
  def rowHash(cols: Seq[Column]): Column = {
    val nulls = cols.zipWithIndex.map { case (c, i) =>
      when(c.isNull, lit(1L << (i % 63))).otherwise(lit(0L)) }.reduce(_ + _)
    xxhash64(cols :+ nulls: _*)
  }

  /** Order-insensitive hash of the rows where `keep` holds: their count
    * and the xor and sum of their row hashes, named with `suffix`.
    */
  def fingerprint(cols: Seq[Column], keep: Column = lit(true),
      suffix: String = ""): Seq[Column] = {
    val h = when(keep, rowHash(cols))
    Seq(count(when(keep, 1)).as(s"__n$suffix"), bit_xor(h).as(s"__x$suffix"),
      sum(h.bitwiseAND(0xFFFFFFFFL)).as(s"__s$suffix"))
  }

  def columns(df: DataFrame): Seq[Column] = df.columns.toSeq.map(c => df.col(s"`$c`"))

  def fingerprintOf(df: DataFrame): String = {
    val e = fingerprint(columns(df))
    val r = df.agg(e.head, e.tail: _*).head()
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).mkString(":")
  }

  /** Hashes of the references, one job per shared base; each reference's
    * columns are cast, by position, to the types its call's output has.
    */
  def refFingerprints(refs: Seq[(String, Ref, StructType)]): Map[String, String] =
    inParallel(refs.filter { case (_, ref, schema) => ref.cols.size == schema.size }
      .groupBy(_._2.base).toSeq.map { case (base, views) => () =>
        val exprs = views.zipWithIndex.flatMap { case ((_, ref, schema), i) =>
          fingerprint(ref.cols.zip(schema.fields).map { case (c, f) => c.cast(f.dataType) },
            ref.keep, i.toString)
        }
        val r = base.agg(exprs.head, exprs.tail: _*).head()
        views.zipWithIndex.map { case ((name, _, _), i) =>
          name -> (0 until 3).map(j => if (r.isNullAt(3 * i + j)) 0L else r.getLong(3 * i + j))
            .mkString(":")
        }
      }).flatten.toMap

  /** Runs set-up tasks on one thread per core; results in task order.
    * Timed passes never use this: they are one client calling in turn.
    */
  def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = t() })).map(_.get())
    finally pool.shutdown()
  }

  final case class Outcome(call: Call, latencyS: Double, fingerprint: Option[String],
      schema: Option[StructType], error: Option[String])

  def now(): Double = System.nanoTime() / 1e9

  def run(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workload(o.workload, o.seed)
    val cores = Runtime.getRuntime.availableProcessors
    val out = new File(o.out)
    out.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // room for the generated code of every call of a pass: with Spark's
      // default of 100 entries a pass evicts its own classes and every
      // call compiles again
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- input set-up: generate once without caching, then generate and
    // cache; the caching runs SetupReps times and its median counts ----
    val t0 = now()
    val genHashes = inParallel(wl.tables(spark).map { case (n, df) => () => n -> fingerprintOf(df) })
    val genS = now() - t0
    final case class Rep(cacheS: Double, hashes: Seq[(String, String)],
        tables: Map[String, DataFrame])
    val reps = (1 to SetupReps).map { r =>
      val t1 = now()
      val cached = wl.tables(spark).map { case (n, df) => n -> df.persist() }
      val hashes = inParallel(cached.map { case (n, df) => () => n -> fingerprintOf(df) })
      val rep = Rep(now() - t1, hashes, cached.toMap)
      if (r < SetupReps) cached.foreach(_._2.unpersist(blocking = true))
      rep
    }
    val cacheTimes = reps.map(_.cacheS).sorted
    require((genHashes +: reps.map(_.hashes)).distinct.size == 1,
      s"regenerating the inputs changed them: $genHashes vs ${reps.map(_.hashes)}")
    val in = reps.last.tables
    val inputRows = genHashes.map { case (n, h) => n -> h.split(':').head.toLong }
    val cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    // a different seed must give different inputs (first 1000 rows of each
    // table compared); checked in traced runs, which report diagnostics
    val tSeed = now()
    val sameAsOther = if (!o.trace) Nil else {
      val other = Workload(o.workload, o.seed + 1).tables(spark).toMap
      in.toSeq.filter { case (n, df) =>
        fingerprintOf(df.limit(1000)) == fingerprintOf(other(n).limit(1000)) }.map(_._1)
    }
    val seedCheckS = now() - tSeed

    // ---- references and counts for the checks, the warm pass, then the
    // reference hashes (aligned to the output types the warm pass saw) ----
    val tRef = now()
    val refs = wl.prepare(in)
    val prepS = now() - tRef
    val tWarm = now()
    val warm = runPass(spark, wl.pass(in), None, 0)
    var warmS = now() - tWarm
    val tHash = now()
    val refHashes = refFingerprints(warm.flatMap(w =>
      refs.get(w.call.name).zip(w.schema).map { case (r, s) => (w.call.name, r, s) }))
    // a call without a reference must repeat the warm pass's output, if
    // that output met the call's checks
    val expected: Map[String, Option[String]] = warm.map { w =>
      val name = w.call.name
      name -> (if (refs.contains(name)) refHashes.get(name)
        else if (w.error.isEmpty) w.fingerprint else None)
    }.toMap
    val refS = prepS + now() - tHash
    // a second warm pass: the first timed pass would otherwise still run
    // code the JIT has not yet compiled
    val tWarm2 = now()
    val warm2 = runPass(spark, wl.pass(in), None, 0)
    warmS += now() - tWarm2
    val warmFailures = (warm ++ warm2).flatMap(w => verify(w, expected))
    val firstCallMs = System.currentTimeMillis()
    // the repeated caching counts once, at its median
    val setupS = (firstCallMs - jvmStartMs) / 1e3 - cacheTimes.sum + cacheTimes(SetupReps / 2)

    // ---- timed passes ----
    val perRun = math.max(MinPasses, math.round(o.seconds / wl.nominalPassS).toInt)
    // traced runs order passes untraced, traced, traced, untraced, … so
    // that a drift over the run does not bias trace.overhead_frac
    val kinds: Seq[Boolean] =
      if (o.trace) Seq.tabulate(4 * math.max(1, (perRun + 3) / 4))(i => i % 4 == 1 || i % 4 == 2)
      else Seq.fill(perRun)(false)
    val heap = new HeapWatch
    val spans = mutable.ArrayBuffer.empty[Span]
    final case class PassResult(traced: Boolean, wallS: Double, outcomes: Seq[Outcome],
        spans: Seq[Span])
    val passes = kinds.zipWithIndex.map { case (traced, i) =>
      val listener = if (traced) Some(new SpanListener(sc)) else None
      listener.foreach(sc.addSparkListener)
      val calls = wl.pass(in)
      val t0 = now()
      val outcomes = runPass(spark, calls, listener, i + 1)
      val wall = now() - t0
      val passSpans = listener.toSeq.flatMap { l =>
        l.flush()
        sc.removeSparkListener(l)
        l.spans
      }
      spans ++= passSpans
      heap.afterPass()
      PassResult(traced, wall, outcomes, passSpans)
    }

    val outcomes = passes.flatMap(_.outcomes)
    val failures = outcomes.flatMap(w => verify(w, expected))
    val attempted = outcomes.size
    val generatorOk = sameAsOther.isEmpty
    val totalRows = inputRows.map(_._2).sum
    val latencies = outcomes.map(_.latencyS).sorted
    // the highest percentile with at least ten samples beyond it; the
    // maximum when there are fewer than eleven samples
    val tailIdx = if (latencies.size > 10) latencies.size - 11 else latencies.size - 1
    val untracedWall = passes.filterNot(_.traced).map(_.wallS)
    val tracedWall = passes.filter(_.traced).map(_.wallS)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", totalRows / LayerStats.median(untracedWall), "rows/s"),
        ("call_p50_s", LayerStats.median(latencies), "s"),
        ("call_tail_s", latencies(tailIdx), "s"),
        ("peak_heap_mb", heap.peakMb, "MB"))
      else {
        val traced = passes.filter(_.traced)
        val perLayer = for {
          layer <- LayerStats.Layers
          (m, unit) <- LayerStats.Metrics
        } yield (s"$layer.$m", LayerStats.median(
          traced.map(p => LayerStats.of(p.spans, layer, cores)(m))), unit)
        val waste = LayerStats.WasteLayers.map { layer =>
          (s"$layer.shuffle_rows_per_out_row", LayerStats.median(traced.map { p =>
            val s = LayerStats.of(p.spans, layer, cores)
            if (s("out_rows") > 0) s("shuffle_rows") / s("out_rows") else 0.0
          }), "ratio")
        }
        perLayer ++ waste ++ Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.gen_s", genS, "s"),
          ("setup.cache_s", cacheTimes(SetupReps / 2), "s"),
          ("setup.warm_s", warmS, "s"),
          ("setup.ref_s", refS, "s"),
          ("setup.cache_mb", cacheMb, "MB"),
          ("trace.overhead_frac",
            LayerStats.median(tracedWall) / LayerStats.median(untracedWall) - 1, "ratio"),
          ("trace.spans", spans.size.toDouble, "count"))
      }

    if (o.trace) writeSpans(new File(out, s"spans-${o.workload}-seed${o.seed}.json"),
      o, passes.filter(_.traced).map(p => (p.wallS, p.spans)))

    val context = Json.obj(
      "perfbench" -> Json.str("context"),
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "master" -> Json.str(sc.master),
      "nproc" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1000000).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "aqe" -> Json.str(spark.conf.get("spark.sql.adaptive.enabled")),
      "ansi" -> Json.str(spark.conf.get("spark.sql.ansi.enabled")),
      "codegen_cache_entries" -> Json.str(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
      "input_rows" -> Json.obj(inputRows.map { case (k, v) => k -> v.toString }: _*),
      "input_hash" -> Json.obj(reps.last.hashes.map { case (k, v) => k -> Json.str(v) }: _*),
      "other_seed_identical_tables" ->
        (if (o.trace) Json.arr(sameAsOther.map(Json.str)) else Json.str("not checked")),
      "setup_parts_s" -> Json.obj("session" -> Json.num(sessionS),
        "generate" -> Json.num(genS), "cache" -> Json.arr(reps.map(r => Json.num(r.cacheS))),
        "seed_check" -> Json.num(seedCheckS), "warm" -> Json.num(warmS),
        "references" -> Json.num(refS)),
      "passes" -> passes.size.toString,
      "calls_per_pass" -> warm.size.toString,
      "pass_s" -> Json.arr(passes.map(p => Json.num(p.wallS))),
      "tail_percentile" -> Json.num(
        if (latencies.size > 10) 100.0 * (latencies.size - 10) / latencies.size else 100.0),
      "tail_samples" -> latencies.size.toString,
      "call_median_s" -> Json.obj(warm.map(_.call.name).map { n =>
        n -> Json.num(LayerStats.median(outcomes.filter(_.call.name == n).map(_.latencyS)))
      }: _*),
      "heap_after_pass_mb" -> Json.arr(heap.afterPassMb.toSeq.map(Json.num)),
      "failed_frac" -> Json.num(failures.size.toDouble / attempted),
      "warm_failures" -> Json.arr(warmFailures.map(Json.str)),
      "failures" -> Json.arr(failures.distinct.take(10).map(Json.str)))
    println(context)
    println(Json.obj(
      "correct" -> (failures.isEmpty && generatorOk).toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)))
    System.out.flush()
    spark.stop()
  }

  /** Runs the calls of one pass in turn; `listener` set means traced. */
  def runPass(spark: SparkSession, calls: Seq[Call], listener: Option[SpanListener],
      pass: Int): Seq[Outcome] =
    calls.zipWithIndex.map { case (c, i) => runCall(spark, c, Span(pass, i, c), listener) }

  /** Calls the operator, forces its output through the noop sink with the
    * output hash and the call's checks computed inline, and times it.
    */
  def runCall(spark: SparkSession, call: Call, span: Span,
      listener: Option[SpanListener]): Outcome = {
    val sc = spark.sparkContext
    listener.foreach(_.register(span))
    def group(phase: String): Unit =
      if (listener.isDefined) sc.setJobGroup(s"${span.id}/$phase", call.name, false)
    val obs = Observation(s"perfbench-${span.id}")
    var schema: Option[StructType] = None
    val t0 = now()
    span.start = System.currentTimeMillis()
    try {
      group("build")
      val df = call.run()
      span.buildEnd = System.currentTimeMillis()
      schema = Some(df.schema)
      group("force")
      val checks = call.checks.zipWithIndex.map { case (c, j) =>
        coalesce(c.expr.cast("long"), lit(0L)).as(s"__check$j") }
      val exprs = fingerprint(columns(df)) ++ checks
      df.observe(obs, exprs.head, exprs.tail: _*)
        .write.format("noop").mode("overwrite").save()
      val latency = now() - t0
      span.end = System.currentTimeMillis()
      val m = obs.get
      def long(k: String): Long = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
      span.outRows = long("__n")
      val bad = call.checks.zipWithIndex.collect {
        case (c, j) if !c.ok(long(s"__check$j")) => s"${c.name}: ${long(s"__check$j")}"
      }
      Outcome(call, latency, Some(s"${long("__n")}:${long("__x")}:${long("__s")}"),
        schema, if (bad.isEmpty) None else Some(bad.mkString("; ")))
    } catch {
      case NonFatal(e) =>
        if (span.buildEnd == 0) span.buildEnd = System.currentTimeMillis()
        span.end = System.currentTimeMillis()
        Outcome(call, now() - t0, None, schema,
          Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    } finally {
      if (listener.isDefined) sc.clearJobGroup()
    }
  }

  /** Why an outcome counts as failed, if it does. */
  def verify(o: Outcome, expected: Map[String, Option[String]]): Option[String] = {
    val name = o.call.name
    o.error.map(e => s"$name: $e").orElse {
      expected.get(name).flatten match {
        case None => Some(s"$name: no expected hash (warm pass or reference failed)")
        case Some(h) if !o.fingerprint.contains(h) =>
          Some(s"$name: result hash ${o.fingerprint.getOrElse("-")} != expected $h")
        case _ => None
      }
    }
  }

  /** Spans of the traced passes, each pass with its self time (pass time
    * not covered by its calls).
    */
  def writeSpans(f: File, o: Opts, passes: Seq[(Double, Seq[Span])]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(Json.obj(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
        "passes" -> Json.arr(passes.map { case (wall, ss) =>
          Json.obj(
            "id" -> Json.str(s"pass-${ss.headOption.map(_.pass).getOrElse(0)}"),
            "wall_s" -> Json.num(wall),
            "self_s" -> Json.num(wall - ss.map(_.wallS).sum),
            "spans" -> Json.arr(ss.map { s =>
              Json.obj(
                "id" -> Json.str(s.id), "parent" -> Json.str(s"pass-${s.pass}"),
                "layer" -> Json.str(s.layer), "call" -> Json.str(s.call),
                "start_ms" -> s.start.toString, "build_end_ms" -> s.buildEnd.toString,
                "end_ms" -> s.end.toString, "self_s" -> Json.num(s.wallS),
                "driver_s" -> Json.num(s.driverS), "jobs" -> s.jobs.size.toString,
                "build_jobs" -> s.jobs.count(_._3).toString, "tasks" -> s.tasks.toString,
                "exec_cpu_s" -> Json.num(s.cpuNs / 1e9),
                "max_task_s" -> Json.num(s.maxTaskMs / 1e3),
                "shuffle_write_bytes" -> s.shuffleBytes.toString,
                "shuffle_write_rows" -> s.shuffleRecords.toString,
                "spill_bytes" -> s.spillBytes.toString, "gc_s" -> Json.num(s.gcMs / 1e3),
                "out_rows" -> s.outRows.toString)
            }))
        })))
    } finally w.close()
  }
}

/** Old-generation heap in use after GC: after every timed pass two full
  * GCs run (outside the timed region) and the old generation is read; the
  * peak over the passes is reported. The pause between the GCs lets
  * Spark's cleaner drop the broadcasts and shuffles the first GC found
  * unreferenced, so the reading does not depend on when the cleaner ran.
  */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))
  val afterPassMb = mutable.ArrayBuffer.empty[Double]

  def afterPass(): Unit = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    afterPassMb += oldPools.map(_.getUsage.getUsed).sum / 1e6
  }
  def peakMb: Double = if (afterPassMb.isEmpty) 0.0 else afterPassMb.max
}

/** Minimal JSON rendering; values are pre-rendered JSON text. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
