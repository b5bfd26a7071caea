package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{JobFile, JobResult, Variables}
import graft.ds.{DataSourceRegistry, ObjectStore}
import graft.jobclass.JobContext
import graft.net.{FileTaskQueue, JobRef, TaskQueue}
import graft.runner.{Cli, Job, JobListener, JobNetRunner}

/** One benchmark run in one fresh JVM:
  *
  *   java perfbench.BenchMain --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --src DIR --out FILE
  *
  * Startup (session + context, the cost every cron-launched jobnet pays),
  * then several identical set-ups, untimed warm-up passes, timed passes
  * until S seconds are used, and the output checks. The raw record (pass
  * times, per-item times, check outcomes, and with --trace 1 the spans,
  * Spark jobs and planning phases) goes to FILE as JSON; the metrics are
  * computed from it by perfbench/metrics.py.
  */
object BenchMain {

  final case class Item(name: String, ms: Double, ok: Boolean)
  final case class Pass(wallS: Double, items: Seq[Item], ingest: Option[(Int, Double)])
  final case class Check(name: String, ok: Boolean, detail: String)

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: Path = Paths.get(apply("work")).toAbsolutePath
    val src: Path = Paths.get(apply("src")).toAbsolutePath
    val out: Path = Paths.get(apply("out")).toAbsolutePath
    val cores: Int = m.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
  }

  /** A workload: its job home, inputs, one timed pass and its checks. */
  abstract class Workload(val o: Opts) {
    val home: Path = o.work.resolve("home")
    /** Subsystem (directory under `home`) holding the workload's jobs. */
    def subsys: String = ""
    def datasources: String =
      s"""sql:
         |  type: spark
         |  schema: default
         |""".stripMargin
    def variables: String = ""
    def setup(): Unit
    /** Untimed passes before the timed ones. The JIT keeps speeding a pass
      * up for several passes after the first, so timing starts only once
      * the steepest part of that curve is behind.
      */
    def warmups: Int
    def warmup(): Unit
    def pass(i: Int): Pass
    def checks(): Seq[Check]
    def inputBytes: Long
    def diskBytes: Long
    def extra: Seq[(String, String)] = Nil

    var spark: SparkSession = _
    var ctx: JobContext = _

    /** Context the jobs run with: traced runs swap each object store for
      * a delegating one, so `ds` calls are spans.
      */
    def jobContext(names: Seq[String]): JobContext =
      if (!o.trace) ctx
      else ctx.copy(registry = new DataSourceRegistry(names.map { n =>
        n -> (ctx.registry.get(n) match {
          case s: ObjectStore => new TracedStore(s)
          case d => d
        })
      }.toMap))
  }

  /** Runs a jobnet through [[JobNetRunner]]: untraced with the runner's
    * own `run` and an explicit listener (the CLI's runner never fires
    * registered listeners), traced by driving the same public steps with
    * a span around each.
    */
  abstract class JobnetWorkload(o: Opts) extends Workload(o) {
    def net: Path
    def dsNames: Seq[String]
    def cliVars: Variables = Variables.empty
    /** The resumable file queue each pass starts afresh. */
    def queueFile: Path = o.work.resolve("state/jobnet.queue")
    def newQueue(): TaskQueue = {
      Files.deleteIfExists(queueFile)
      new FileTaskQueue(queueFile)
    }
    def ingestJob: Option[(String, Int)] = None
    /** streaming_load's load log, whose fresh rows count the pass's batches. */
    def loadLog: Option[String] = None

    /** Load-log batches the last pass wrote (distinct batch start times). */
    def batches(): Long = loadLog.map(t => spark.sql(
      s"SELECT count(DISTINCT start_time) FROM $t WHERE job_process_id <> '${Gen.CrashedRun}'")
      .head().getLong(0)).getOrElse(0L)

    override def warmup(): Unit = { pass(0); () }

    def pass(i: Int): Pass = {
      val items = mutable.ArrayBuffer.empty[Item]
      var started = 0L
      def done(ref: JobRef, r: JobResult): Unit =
        items += Item(ref.toString, (System.nanoTime() - started) / 1e6, r.success)
      val jctx = jobContext(dsNames)
      val q = newQueue()
      val t0 = System.nanoTime()
      val result =
        if (!o.trace) {
          val listener = new JobListener {
            override def beforeJob(ref: JobRef): Unit = started = System.nanoTime()
            override def afterJob(ref: JobRef, r: JobResult): Unit = done(ref, r)
          }
          new JobNetRunner(jctx, Seq(listener)).run(net, q, cliVars)
        } else {
          val runner = new JobNetRunner(jctx)
          val tq = new TracedQueue(q, queueFile)
          Trace.span("runner.run") {
            Trace.span("net.dag")(runner.bindQueue(net, tq))
            Trace.span("runner.preflight")(runner.preflight(tq, cliVars))
            tq.consumeEach { ref =>
              Trace.span("runner.job", ref.toString) {
                started = System.nanoTime()
                val r = try {
                  val path = runner.jobFilePath(ref)
                  val jf = Trace.span("core.jobfile")(JobFile.load(path))
                  val job = new Job(ref.name, jf, jctx.copy(subsys = ref.subsys),
                    Map.empty, cliVars, Some(path.toAbsolutePath))
                  Trace.span("core.resolve")(job.variables())
                  val actions = Trace.span("jobclass.build")(job.compile())
                  actions.foreach(a => Trace.span("jobclass.action", a.label)(a.run()))
                  JobResult.success
                } catch { case e: Throwable => JobResult.forException(e) }
                done(ref, r)
                r
              }
            }
          }
        }
      val wall = (System.nanoTime() - t0) / 1e9
      q.close()
      if (!result.success) System.err.println(s"[perfbench] pass $i failed: ${result.message}")
      val ingest = ingestJob.flatMap { case (job, objects) =>
        items.find(_.name.endsWith(job)).map(it => (objects, it.ms)) }
      Pass(wall, items.toSeq, ingest)
    }
  }

  def dsYaml(name: String, tpe: String, base: Path): String =
    s"$name:\n  type: $tpe\n  base: $base\n"

  // ---------------------------------------------------------------------

  /** etl_pipeline: the framework pipeline jobnet over a GenScale corpus. */
  final class EtlPipeline(o: Opts) extends JobnetWorkload(o) {
    val factor = 1
    val warmups = 4
    val docs: Long = 5000L * factor
    val objects = 8
    val batch = 4
    val data: Path = o.work.resolve("data")
    val qbase: Path = o.work.resolve("queue")
    val outDir: Path = o.work.resolve("out")
    override def subsys: String = "pipeline"
    def net: Path = home.resolve("pipeline/pipeline.jobnet")
    def dsNames: Seq[String] = Seq("sql", "fs", "queuefs", "file")
    override def datasources: String = super.datasources +
      dsYaml("fs", "fs", Paths.get("/")) + dsYaml("queuefs", "fs", qbase) +
      dsYaml("file", "file", Paths.get("/"))
    override def variables: String = "pipe_schema: pipe\n"
    override def cliVars: Variables = Variables(
      "sf_dir" -> data.toString, "unload_dir" -> outDir.toString,
      "work_dir" -> qbase.toString, "queue_objects" -> objects.toString,
      "stream_batch" -> batch.toString)
    override def ingestJob: Option[(String, Int)] = Some(("load_stream", objects))
    override def loadLog: Option[String] = Some("pipe.documents_stream_l")

    def setup(): Unit = {
      Gen.deleteTree(data)
      Gen.documents(spark, o.seed, docs, factor).coalesce(o.cores).write
        .parquet(data.resolve("documents.parquet").toString)
      val dst = home.resolve("pipeline")
      Gen.deleteTree(dst)
      Files.createDirectories(dst)
      Files.list(o.src.resolve("pipeline")).iterator.asScala.foreach(f =>
        Files.copy(f, dst.resolve(f.getFileName)))
      Files.createDirectories(qbase)
    }

    override def pass(i: Int): Pass = { Gen.deleteTree(outDir); super.pass(i) }

    def checks(): Seq[Check] = {
      val raw = spark.read.parquet(data.resolve("documents.parquet").toString).count()
      val train = spark.read.parquet(outDir.resolve("train").toString).count()
      val streamed = spark.table("pipe.documents_stream").count()
      def files(d: Path) = if (!Files.isDirectory(d)) 0 else Files.list(d).count().toInt
      val left = files(qbase.resolve("graft_pipeline_queue"))
      val saved = files(qbase.resolve("graft_pipeline_save"))
      Seq(Check("train_nonempty", train > 0, s"train=$train"),
        Check("train_lt_raw", train < raw, s"train=$train raw=$raw"),
        Check("streamed_eq_raw", streamed == raw, s"streamed=$streamed raw=$raw"),
        Check("queue_empty", left == 0, s"left=$left"),
        Check("saved_eq_objects", saved == objects, s"saved=$saved objects=$objects"))
    }

    def inputBytes: Long = Gen.bytesUnder(data)
    def diskBytes: Long = Gen.bytesUnder(data) + Gen.bytesUnder(qbase) +
      Gen.bytesUnder(outDir) + Gen.bytesUnder(o.work.resolve("warehouse/pipe.db"))
  }

  /** small_jobs: a seeded DAG of tiny templated sql jobs with a subnet,
    * consumed through a resumable file queue.
    */
  final class SmallJobs(o: Opts) extends JobnetWorkload(o) {
    val nMain = 10
    val nSub = 3
    val warmups = 5
    var spec: Gen.SmallNet = _
    override def subsys: String = "jobs"
    def net: Path = home.resolve("jobs/t.jobnet")
    def dsNames: Seq[String] = Seq("sql")
    override def variables: String = "schema: sj\n"

    def setup(): Unit = {
      val dir = home.resolve("jobs")
      Gen.deleteTree(dir)
      spec = Gen.smallJobs(dir, "t", o.seed, nMain, nSub)
      spark.sql("CREATE DATABASE IF NOT EXISTS sj")
    }

    def checks(): Seq[Check] = {
      val got = spark.sql(spec.jobs.map(t => s"SELECT '$t' AS t, k, v FROM sj.$t")
        .mkString(" UNION ALL ")).collect()
        .groupBy(_.getString(0)).view.mapValues(rows =>
          rows.map(r => r.getAs[Number](1).longValue -> r.getAs[Number](2).longValue)
            .sortBy(_._1).map(_._2).toSeq).toMap
      spec.jobs.map { t =>
        val want = spec.expected(t)
        val have = got.getOrElse(t, Nil)
        Check(s"table_$t", have == want, s"want=$want have=$have")
      }
    }

    def inputBytes: Long = Gen.bytesUnder(home.resolve("jobs"))
    def diskBytes: Long = inputBytes + Gen.bytesUnder(o.work.resolve("warehouse/sj.db"))
  }

  /** queue_ingest: streaming_load of many small JSON objects, a share of
    * them pre-recorded in the load log as crash leftovers.
    */
  final class QueueIngest(o: Opts) extends JobnetWorkload(o) {
    val objects = 50
    val batch = 25
    val warmups = 12
    val qbase: Path = o.work.resolve("store")
    val queueDir: Path = qbase.resolve("queue")
    val saveDir: Path = qbase.resolve("save")
    var q: Gen.Queue = _
    override def subsys: String = "ingest"
    def net: Path = home.resolve("ingest/ingest.jobnet")
    def dsNames: Seq[String] = Seq("sql", "queuefs")
    override def datasources: String = super.datasources + dsYaml("queuefs", "fs", qbase)
    override def variables: String = "schema: qi\n"
    override def ingestJob: Option[(String, Int)] = Some(("load", objects))
    override def loadLog: Option[String] = Some("qi.dest_l")

    def setup(): Unit = {
      Gen.deleteTree(qbase)
      q = Gen.queueObjects(queueDir, o.seed, objects, objects / 10)
      val dir = home.resolve("ingest")
      Gen.deleteTree(dir)
      val logged = q.logged.toSeq.sorted.map(n =>
        s"('${Gen.CrashedRun}', TIMESTAMP'2024-01-01 00:00:00', TIMESTAMP'2024-01-01 00:00:01', " +
          s"'qi.dest', '${queueDir.resolve(n)}')")
      Gen.write(dir.resolve("ingest.jobnet"), "reset -> load\n")
      Gen.write(dir.resolve("reset.sql.job"),
        s"""/*
           |class: sql
           |*/
           |CREATE DATABASE IF NOT EXISTS $$schema;
           |DROP TABLE IF EXISTS $$schema.dest;
           |DROP TABLE IF EXISTS $$schema.dest_l;
           |DROP TABLE IF EXISTS $$schema.dest_wk;
           |CREATE TABLE $$schema.dest (obj BIGINT, seq BIGINT, val BIGINT, tag STRING) USING PARQUET;
           |CREATE TABLE $$schema.dest_l (job_process_id STRING, start_time TIMESTAMP,
           |  end_time TIMESTAMP, target_table STRING, data_file STRING) USING PARQUET;
           |${if (logged.isEmpty) "" else logged.mkString(s"INSERT INTO $$schema.dest_l VALUES\n", ",\n", ";")}
           |""".stripMargin)
      Gen.write(dir.resolve("load.job"),
        s"""class: streaming_load
           |src-ds: queuefs
           |queue-path: queue
           |persistent-path: save
           |dest-ds: sql
           |dest-table: $$schema.dest
           |work-table: $$schema.dest_wk
           |log-table: $$schema.dest_l
           |format: json
           |batch-size: $batch
           |""".stripMargin)
    }

    /** Put every dequeued object back in the queue before the next pass. */
    override def pass(i: Int): Pass = {
      if (Files.isDirectory(saveDir))
        Files.list(saveDir).iterator.asScala.toSeq.foreach(f =>
          Files.move(f, queueDir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
      super.pass(i)
    }

    def checks(): Seq[Check] = {
      val rows = spark.sql("SELECT obj, seq FROM qi.dest").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = q.objects.filterNot(q.logged).flatMap { n =>
        val i = n.stripPrefix("obj_").stripSuffix(".json").toLong
        (0 until q.rows(n)).map(r => (i, r.toLong))
      }
      val log = spark.sql("SELECT count(*), count(DISTINCT data_file) FROM qi.dest_l").head()
      val saved = Files.list(saveDir).count().toInt
      val left = Files.list(queueDir).count().toInt
      Seq(Check("dest_rows_eq_unlogged_objects", rows.sorted == want.sorted,
          s"rows=${rows.size} want=${want.size}"),
        Check("log_one_row_per_object",
          log.getLong(0) == objects && log.getLong(1) == objects, s"log=$log"),
        Check("all_objects_moved", saved == objects && left == 0,
          s"saved=$saved left=$left"))
    }

    def inputBytes: Long = q.objects.map(n => Files.size(
      if (Files.exists(queueDir.resolve(n))) queueDir.resolve(n) else saveDir.resolve(n))).sum
    def diskBytes: Long = Gen.bytesUnder(qbase) + Gen.bytesUnder(o.work.resolve("warehouse/qi.db"))
  }

  /** operator_suite: a fixed subset of the registered operator queries,
    * covering all 18 operator objects, over seeded tables.
    */
  final class OperatorSuite(o: Opts) extends Workload(o) {
    val data: Path = o.work.resolve("data")
    val warmups = 4
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val failures = mutable.LinkedHashMap.empty[String, String]
    lazy val queries: Seq[(String, String, graft.QueryDef)] = {
      val byName = Suite.objects.flatMap { case (obj, qs) => qs.map(q => q.name -> (obj, q)) }.toMap
      Suite.queries.map { n =>
        val (obj, q) = byName.getOrElse(n, sys.error(s"unknown query $n"))
        (n, obj, q)
      }
    }

    def setup(): Unit = {
      Gen.deleteTree(data)
      Gen.tables(spark, o.seed, Suite.Scale, data)
    }

    private def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    override def warmup(): Unit = queries.foreach { case (n, _, q) =>
      try q.fn(spark, data.toString).count()
      catch { case e: Throwable => failures(n) = "warm-up: " + e }
      release()
    }

    def pass(i: Int): Pass = {
      val items = Trace.span("bench.pass") {
        queries.map { case (n, obj, q) =>
          release()
          val t0 = System.nanoTime()
          val ok = try {
            val c = Trace.span("operators." + obj, n)(q.fn(spark, data.toString).count())
            rows.get(n).foreach(prev => if (prev != c) failures(n) = s"rows $prev then $c")
            rows(n) = c
            true
          } catch { case e: Throwable =>
            failures(n) = String.valueOf(e); false
          }
          Item(n, (System.nanoTime() - t0) / 1e6, ok)
        }
      }
      release()
      Pass(items.map(_.ms).sum / 1e3, items, None)
    }

    def checks(): Seq[Check] =
      failures.toSeq.map { case (n, msg) => Check(s"query_$n", ok = false, msg) }

    def inputBytes: Long = Gen.bytesUnder(data)
    def diskBytes: Long = Gen.bytesUnder(data) + Gen.bytesUnder(o.work.resolve("warehouse"))

    override def extra: Seq[(String, String)] = Seq(
      "rows" -> Json.obj(rows.toSeq.map { case (k, v) => k -> v.toString }),
      "oracle" -> Json.obj(queries.flatMap { case (n, _, q) =>
        q.oracle.map(s => n -> Json.str(s)) }),
      "data_dir" -> Json.str(data.toString))
  }

  // ---------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Trace.enabled = o.trace
    val w: Workload = o.workload match {
      case "etl_pipeline"   => new EtlPipeline(o)
      case "small_jobs"     => new SmallJobs(o)
      case "queue_ingest"   => new QueueIngest(o)
      case "operator_suite" => new OperatorSuite(o)
      case other => sys.error(s"unknown workload: $other")
    }
    val c0 = System.nanoTime()
    Gen.write(w.home.resolve("datasource.yml"), w.datasources)
    // an empty variable.yml fails to parse, so write none
    if (w.variables.nonEmpty) Gen.write(w.home.resolve("variable.yml"), w.variables)
    val configMs = (System.nanoTime() - c0) / 1e6

    val spark = Trace.span("runner.session")(Cli.buildSpark(s"perfbench-${o.workload}"))
    w.spark = spark
    w.ctx = Trace.span("runner.context")(Cli.loadContext(w.home, w.subsys, spark))
    val startupS = (System.currentTimeMillis() - jvmStartMs - configMs) / 1e3

    val sparkTrace = if (o.trace) {
      val st = new SparkTrace
      spark.sparkContext.addSparkListener(st)
      spark.listenerManager.register(st)
      Trace.attach(spark)
      Some(st)
    } else None

    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    Trace.pass = 0
    val warms = (1 to w.warmups).map { _ =>
      val t0 = System.nanoTime()
      w.warmup()
      val s = (System.nanoTime() - t0) / 1e9
      System.gc()
      s
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val heap = ManagementFactory.getMemoryMXBean
    var liveMb = 0.0
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // another pass whenever it would end nearer the target than stopping now
    while (passes.isEmpty || elapsed + passes.map(_.wallS).sum / passes.size / 2 < o.seconds) {
      Trace.pass = passes.size + 1
      passes += w.pass(passes.size + 1)
      Trace.pass = -1
      // a full collection between passes, so each starts on a clean heap;
      // the live set is read after the first, since Spark's status store
      // keeps growing with every job that runs after it
      System.gc()
      if (passes.size == 1) liveMb = heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      w match {
        case jw: JobnetWorkload if o.trace =>
          Trace.count("streaming.batches", jw.batches().toDouble, at = passes.size)
        case _ =>
      }
    }
    val measureS = elapsed

    val c1 = System.nanoTime()
    val checks = try w.checks() catch { case e: Throwable =>
      Seq(Check("checks", ok = false, String.valueOf(e))) }
    val checksS = (System.nanoTime() - c1) / 1e9
    sparkTrace.foreach(_.drain(spark))

    def itemJson(it: Item) = Json.arr(Seq(it.name, it.ms, it.ok))
    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "cores" -> o.cores.toString,
      "startup_s" -> Json.num(startupS),
      "setup_s" -> Json.arr(setups),
      "warmup_s" -> Json.arr(warms),
      "measure_s" -> Json.num(measureS),
      "checks_s" -> Json.num(checksS),
      "passes" -> passes.map { p =>
        Json.obj(Seq("wall_s" -> Json.num(p.wallS),
          "items" -> p.items.map(itemJson).mkString("[", ",", "]"),
          "ingest" -> p.ingest.map { case (n, ms) => Json.arr(Seq(n, ms)) }.getOrElse("null")))
      }.mkString("[", ",\n", "]"),
      "checks" -> checks.map(c => Json.arr(Seq(c.name, c.ok, c.detail))).mkString("[", ",\n", "]"),
      "live_heap_mb" -> Json.num(liveMb),
      "input_bytes" -> w.inputBytes.toString,
      "disk_bytes" -> w.diskBytes.toString,
    ) ++ w.extra ++ (if (!o.trace) Nil else Seq(
      "spans" -> Trace.spansJson,
      "counters" -> Trace.countersJson,
      "spark_jobs" -> sparkTrace.get.jobsJson,
      "queries" -> sparkTrace.get.queriesJson))
    Gen.write(o.out, Json.obj(fields) + "\n")

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }
}
