package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.imdb.{Enrichment, ImdbPipeline}
import graft.scale.{CacheRegistry, MemoPool}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counting wrapper around the program's deterministic stub predictor,
  * passed in through the public GenrePredictor trait. Local mode runs
  * executors in this JVM, so the counters see every call. */
object CountingPredictor extends Enrichment.GenrePredictor {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
  val movies = new java.util.concurrent.atomic.AtomicLong(0L)
  override def predictBatch(batch: Seq[Enrichment.MovieMeta]): Seq[(String, String)] = {
    calls.incrementAndGet()
    movies.addAndGet(batch.size.toLong)
    Enrichment.StubPredictor.predictBatch(batch)
  }
}

/** One benchmark run in one JVM, driven only through the program's
  * public functions. Arguments are key=value pairs:
  *
  *   mode      bench | census | record
  *   workload  imdb_pipeline or an engine workload name
  *   rows      comma-separated engine rows (engine workloads, record)
  *   seed      permutes the row order of every pass
  *   seconds   closed-loop budget: passes repeat until it is spent
  *   trace     1 = record spans, listener metrics and stack samples
  *   data      engine tables;  imdb = IMDB inputs;  trees = RF size
  *   work      scratch directory;  out = result JSON
  *
  * The result JSON holds raw per-pass numbers; perfbench/run.py turns
  * them into the benchmark's metrics and checks the outputs. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    // set-up as a user pays it: JVM start to a warmed-up session
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStart = System.currentTimeMillis()
    val (spark, sessionS, warmupS) = session(cpus, work, a("data"))
    val setup = Map("setup_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "jvm_s" -> (mainStart - jvmStart) / 1e3, "session_s" -> sessionS, "warmup_s" -> warmupS)
    log(s"set-up done: $setup")
    val out = mutable.LinkedHashMap[String, Any](
      "setup" -> setup, "cpus" -> cpus,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}")
    a("mode") match {
      case "census" => out("rows") = census(spark, a("data"))
      case "record" => out("rows") = record(spark, a("data"), a("rows").split(",").toSeq, work)
      case _ =>
        out("probes_start") = Probes.run(spark, a("data"), warm = true)
        val tracer = new Tracer
        val passes =
          if (a("workload") == "imdb_pipeline") Imdb.loop(spark, a, tracer, cpus)
          else Engine.loop(spark, a, tracer, cpus)
        out("passes") = passes
        log("loop done")
        out("probes_end") = Probes.run(spark, a("data"), warm = false)
        if (a("trace") == "1") writeSpans(tracer.all, s"$work/spans.jsonl")
    }
    out("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(a("out")), Json.write(out).getBytes("UTF-8"))
    log("result written")
    spark.stop()
    log("session stopped")
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $msg")

  /** The session every repository harness uses (graft.Bench's settings),
    * with scratch space inside the benchmark's work directory, then
    * warmed up on the engine tables. Returns the session and the seconds
    * spent building it and warming it up. */
  def session(cpus: Int, work: String, data: String): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.io.Sessions.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+
        graft.plans.Top1WindowToMaxBy :+ graft.expr.CollapseAccentFold
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/lineitem.parquet").count()
    (spark, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** One pass over every query: jobs launched, bytes written and
    * streaming batches seen per row — the observable properties the
    * engine workloads' row lists are chosen by. */
  def census(spark: SparkSession, data: String): Seq[Map[String, Any]] = {
    val ex = new ExecListener
    spark.sparkContext.addSparkListener(ex)
    StreamProbe.recording = true
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try { Fingerprint.of(fn(spark, data)); "" }
                catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
                finally CacheRegistry.drain()
      val secs = (System.nanoTime() - t0) / 1e9
      val to = System.currentTimeMillis()
      ex.flush(spark.sparkContext)
      val (t, _) = ex.window(from, to)
      Map("name" -> name, "seconds" -> secs, "jobs" -> t.jobs,
        "output_bytes" -> t.output, "stream_batches" -> StreamProbe.drain().size,
        "error" -> err)
    }
    spark.sparkContext.removeSparkListener(ex)
    rows
  }

  /** Fingerprint each row and dump its result as parquet, for the
    * golden-fingerprint recording and its DuckDB cross-check. */
  def record(spark: SparkSession, data: String, names: Seq[String],
             work: String): Seq[Map[String, Any]] = {
    val qs = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    names.map { name =>
      try {
        val df = qs(name)(spark, data)
        val fp = Fingerprint.of(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$work/record/$name")
        Map("name" -> name, "fingerprint" -> fp, "oracle" -> oracle.getOrElse(name, ""))
      } catch { case e: Throwable =>
        Map("name" -> name, "error" -> String.valueOf(e.getMessage).take(300))
      } finally CacheRegistry.drain()
    }
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "run" -> s.run))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Closed-loop budget: start another pass only if one more pass as
    * long as the last still ends within `budget` seconds, so a run does
    * a stable number of passes. Every run does at least one. */
  def another(done: Int, elapsed: Double, last: Double, budget: Double): Boolean =
    done == 0 || elapsed + last <= budget

  /** Spark jobs that started within [from, to] (epoch ms) become
    * "exec.job" spans under `parentAt(job start in nanoTime)`; returns
    * their totals and the union of their active intervals (ms). */
  def execLayer(ex: ExecListener, tracer: Tracer, from: Long, to: Long,
                parentAt: Long => Long): (ExecTotals, Long) = {
    ex.jobSpans(from, to).foreach { case (s, e) =>
      val start = tracer.nanoAt(s)
      tracer.add(Span(tracer.nextId(), parentAt(start), "exec.job", start, tracer.nanoAt(e),
        tracer.run))
    }
    ex.window(from, to)
  }
}

/** Host drift probes: graft.Bench's cpu/shuffle/scan kernels, one
  * repetition each. */
object Probes {
  /** `warm` runs the shuffle and scan kernels once untimed first: right
    * after set-up their code is not yet compiled and they read 2-3x
    * slow, which would flag every run as drifting. The cpu loop
    * compiles within its first milliseconds. */
  def run(spark: SparkSession, data: String, warm: Boolean): Map[String, Double] = {
    if (warm) { shuffle(spark); scan(spark, data) }
    kernels(spark, data)
  }

  private def shuffle(spark: SparkSession): Unit =
    spark.range(0L, 20000000L, 1L, 32).selectExpr("id % 1000 AS k")
      .groupBy("k").count().selectExpr("sum(count)").collect()

  private def scan(spark: SparkSession, data: String): Unit =
    spark.read.parquet(s"$data/lineitem.parquet").selectExpr("sum(l_quantity)").collect()

  private def kernels(spark: SparkSession, data: String): Map[String, Double] = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    Map(
      "cpu" -> time {
        var x = 0x9e3779b97f4a7c15L; var i = 0
        while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.println("[perfbench] probe_cpu sentinel")
      },
      "shuffle" -> time(shuffle(spark)),
      "scan" -> time(scan(spark, data)))
  }
}

/** JSON for the harness's result files (Jackson ships with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Engine workloads: closed loop, one caller, over `rows`. Every pass
  * is a fresh user of the program: it reads the tables through its own
  * path alias (a new (session, dir) key, so memo bases, schema memos
  * and layout copies are built again) in its own seeded row order, and
  * its memo pool is cleared when it ends. */
object Engine {
  def loop(spark: SparkSession, a: Map[String, String], tracer: Tracer,
           cpus: Int): Seq[Map[String, Any]] = {
    val rows = a("rows").split(",").toSeq
    val queries = graft.SparkEntry.queries
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val ex = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(ex)
    tracer.enabled = trace
    StreamProbe.recording = trace
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var last = 0.0
    while (Harness.another(passes.size, (System.nanoTime() - t0) / 1e9, last,
                           a("seconds").toDouble)) {
      val p = passes.size
      val dir = alias(a("data"), s"${a("work")}/pass$p")
      val order = new scala.util.Random(seed * 7919L + p).shuffle(rows)
      tracer.run = s"pass$p"
      val passFrom = System.currentTimeMillis()
      val (recs, wall) = tracer.timed("bench.pass") {
        order.map(name => row(spark, queries(name), name, dir, tracer))
      }
      val passTo = System.currentTimeMillis()
      MemoPool.clear(spark)
      spark.catalog.clearCache()
      val layers = mutable.Map[String, Double]()
      if (trace) {
        ex.flush(spark.sparkContext)
        recs.foreach { r =>
          val (from, to) = (r("from").asInstanceOf[Long], r("to").asInstanceOf[Long])
          val span = r("span").asInstanceOf[Long]
          val (_, busy) = Harness.execLayer(ex, tracer, from, to, tracer.innermost(span, _))
          r("job_gap_s") = math.max(0L, (to - from) - busy) / 1e3
        }
        val (tot, _) = ex.window(passFrom, passTo)
        layers ++= tot.toMap
        layers("exec.util") = tot.taskMs / 1e3 / (wall * cpus)
        layers ++= streamLayer(StreamProbe.drain())
      }
      passes += Map("wall_s" -> wall, "layers" -> layers.toMap,
        "rows" -> recs.map(_.toMap -- Seq("span", "from", "to")))
      last = wall
    }
    passes.toSeq
  }

  private def alias(data: String, link: String): String = {
    val l = Paths.get(link)
    if (!Files.exists(l)) Files.createSymbolicLink(l, Paths.get(data).toAbsolutePath)
    link
  }

  private def row(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                  name: String, dir: String, tracer: Tracer): mutable.Map[String, Any] = {
    val r = mutable.Map[String, Any]("name" -> name)
    val before = MemoPool.pooledNames(spark)
    r("from") = System.currentTimeMillis()
    val (_, total) = tracer.timed("bench.row") {
      r("span") = tracer.current
      try {
        val (df, b) = tracer.timed("queries.build")(fn(spark, dir))
        val (_, pl) = tracer.timed("queries.plan")(df.queryExecution.executedPlan)
        val (fp, e) = tracer.timed("queries.exec")(Fingerprint.of(df))
        r ++= Seq("build_s" -> b, "plan_s" -> pl, "exec_s" -> e, "fingerprint" -> fp)
      } catch { case t: Throwable =>
        r("error") = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
      }
      val (n, d) = tracer.timed("scale.drain")(CacheRegistry.drain())
      r ++= Seq("drain_s" -> d, "drained" -> n)
    }
    r("to") = System.currentTimeMillis()
    r("total_s") = total
    val ((names, bytes), _) = tracer.timed("scale.memo_lookup") {
      (MemoPool.pooledNames(spark), MemoPool.pooledBytes(spark))
    }
    r("memo_builds") = (names -- before).size
    r("memo_mb") = bytes / 1048576.0
    r
  }

  private def streamLayer(bs: Seq[StreamProbe.Batch]): Map[String, Double] = {
    val lastPerQuery = bs.groupBy(_.query).values.map(_.last)
    val trig = bs.map(_.trigger.toDouble).sorted
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_p50_ms" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2)),
      "streaming.add_batch_ms" -> bs.map(_.addBatch).sum.toDouble,
      "streaming.wal_commit_ms" -> bs.map(_.wal).sum.toDouble,
      "streaming.commit_offsets_ms" -> bs.map(_.commit).sum.toDouble,
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastPerQuery.map(_.stateBytes).sum / 1048576.0,
      "streaming.late_dropped" -> bs.map(_.dropped).sum.toDouble)
  }
}

/** The paper's pipeline through ImdbPipeline.run, repeated in a closed
  * loop; each iteration writes its own outputs. */
object Imdb {
  private val Modules = Map("Readers" -> "readers", "Cleaning" -> "cleaning",
    "Metadata" -> "metadata", "Enrichment" -> "enrichment",
    "Features" -> "features", "Writers" -> "writers")

  /** Innermost graft.imdb frame → module. ImdbPipeline's own helpers
    * count toward the module they orchestrate. */
  def classify(st: Array[StackTraceElement]): Option[String] =
    st.find(_.getClassName.startsWith("graft.imdb.")).map { f =>
      val cls = f.getClassName.stripPrefix("graft.imdb.").takeWhile(_ != '$')
      val m = f.getMethodName
      cls match {
        case "ImdbModel" => if (m.contains("train") || m.contains("classifier")) "model_train"
                            else "model_predict"
        case "ImdbPipeline" =>
          if (m.contains("preprocess") || m.contains("imputationMeans")) "cleaning"
          else if (m.contains("engineer")) "metadata" else "pipeline"
        case c => Modules.getOrElse(c, "pipeline")
      }
    }

  def loop(spark: SparkSession, a: Map[String, String], tracer: Tracer,
           cpus: Int): Seq[Map[String, Any]] = {
    val in = a("imdb")
    val trace = a("trace") == "1"
    val ex = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(ex)
    tracer.enabled = trace
    val iters = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var last = 0.0
    while (Harness.another(iters.size, (System.nanoTime() - t0) / 1e9, last,
                           a("seconds").toDouble)) {
      val outDir = s"${a("work")}/iter${iters.size}"
      val cfg = ImdbPipeline.Config(
        trainGlob = s"$in/train-*.csv",
        testCsv = s"$in/validation_hidden.csv",
        writingJson = s"$in/writing.json",
        directingJson = s"$in/directing.json",
        cacheCsv = s"$in/genre_cache.csv",
        resultsDir = outDir,
        numTrees = a("trees").toInt,
        predictor = CountingPredictor,
        resultPath = Some(s"$outDir/predictions"),
        cacheOutDir = Some(s"$outDir/genre_cache"))
      tracer.run = s"iter${iters.size}"
      val calls0 = CountingPredictor.calls.get
      val movies0 = CountingPredictor.movies.get
      val sampler = if (trace) Some(new StackSampler(Thread.currentThread(), 5L, classify))
                    else None
      sampler.foreach(_.start())
      val marks = mutable.LinkedHashMap[String, Double]()
      var iteration = 0L
      val from = System.currentTimeMillis()
      val (_, wall) = tracer.timed("bench.iteration") {
        var mark = System.nanoTime()
        iteration = tracer.current
        ImdbPipeline.run(spark, cfg, onStage = { (stage, secs) =>
          marks(stage) = secs
          val now = System.nanoTime()
          tracer.add(Span(tracer.nextId(), iteration, s"imdb.stage.$stage", mark, now, tracer.run))
          mark = now
        })
      }
      val to = System.currentTimeMillis()
      val modules = sampler.map(_.finish()).getOrElse(Map.empty)
      val layers = mutable.Map[String, Any]()
      if (trace) {
        ex.flush(spark.sparkContext)
        // a job belongs to the stage mark that closed after it started
        val (tot, busy) = Harness.execLayer(ex, tracer, from, to, tracer.innermost(iteration, _))
        layers ++= tot.toMap
        layers("exec.util") = tot.taskMs / 1e3 / (wall * cpus)
        layers("exec.job_gap_s") = math.max(0L, (to - from) - busy) / 1e3
        layers("modules") = modules
      }
      spark.catalog.clearCache()
      iters += Map("wall_s" -> wall, "out" -> outDir,
        "stages" -> marks.toMap, "layers" -> layers.toMap,
        "predictor_calls" -> (CountingPredictor.calls.get - calls0),
        "predicted_movies" -> (CountingPredictor.movies.get - movies0))
      last = wall
    }
    iters.toSeq
  }
}
