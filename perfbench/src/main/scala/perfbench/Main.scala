package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.compact
import graft.QueryRegistry
import graft.stages.{MergeTable, PipelineMain}

/** The benchmark's JVM side: one SparkSession at `local[cores]`, driven from
  * this single thread, calling only the program's public entry points
  * (`PipelineMain.runStage` / `seedOrders`, `QueryRegistry.byName(..).run`).
  * It sets up, measures for `--seconds`, and writes raw samples as JSON to
  * `--out`; `run.py` turns them into metrics and checks the outputs.
  *
  *   Main --workload dag_daily|ann_index --run-dir D --data-dir S
  *        --seconds N --trace 0|1 --out F [--trace-out T] [--setup-reps R]
  *        [--preload-days K] [--queries a,b,..]
  */
object Main {

  val Stages = Seq("load_stg", "stg_to_dds", "ledger_update")

  /** A call into the program failed; it is already recorded. */
  final class Failed(cause: Throwable) extends Exception(cause)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(opt("run-dir"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = opt.getOrElse("trace", "0") == "1"
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, traced,
      s"${opt("workload")}-${opt.getOrElse("seed", "0")}")
    val run = new Run(spark, tracer, runDir, Paths.get(opt("data-dir")), opt)
    val record = try {
      opt("workload") match {
        case "dag_daily" => run.dagDaily()
        case "ann_index" => run.annIndex()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.record
    } finally spark.stop() // drains the listener bus before the counters are read
    val spans = tracer.spans.toList.map { s =>
      val c = listener.bySpan.getOrElse(s.id, new LayerCounters)
      ("run" -> tracer.runId) ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~
        ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs) ~ ("ok" -> s.ok) ~
        ("jobs" -> c.jobs) ~ ("tasks" -> c.tasks) ~ ("executor_ms" -> c.executorMs) ~
        ("driver_s" -> LayerListener.uncoveredS(s.startNs / 1000000, s.endNs / 1000000,
          c.jobIntervals.toSeq)) ~
        ("shuffle_write_bytes" -> c.shuffleWriteBytes) ~ ("input_bytes" -> c.inputBytes) ~
        ("output_bytes" -> c.outputBytes)
    }
    opt.get("trace-out").foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.writeString(Paths.get(p), spans.map(compact).mkString("", "\n", "\n"))
    }
    Files.writeString(Paths.get(opt("out")),
      compact(record ~ ("spans" -> spans) ~ ("cores" -> cores)))
  }
}

/** One run of one workload: set-up, the measured region, and the raw record. */
final class Run(spark: SparkSession, tracer: Tracer, runDir: Path, dataDir: Path,
                opt: Map[String, String]) {
  import Main._

  private val seconds = opt("seconds").toDouble
  private val setupReps = opt.getOrElse("setup-reps", "3").toInt
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val backfill = mutable.ArrayBuffer.empty[JObject]
  private val ops = mutable.ArrayBuffer.empty[JObject]
  private val rounds = mutable.ArrayBuffer.empty[JObject]
  private val failures = mutable.ArrayBuffer.empty[JObject]
  /** What the checks need to find the outputs. */
  private val outputs = mutable.ArrayBuffer.empty[JField]
  private var attempted = 0

  def record: JObject = ("attempted" -> attempted) ~ ("setup_s" -> setupS.toList) ~
    ("backfill" -> backfill.toList) ~ ("ops" -> ops.toList) ~ ("rounds" -> rounds.toList) ~
    ("failures" -> failures.toList) ~ JObject(outputs.toList)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    secs(t0)
  }

  /** Every call into the program: counted, timed, failures recorded. Safe
    * to use from the warm-up's threads.
    */
  private def call[T](op: String)(body: => T): T = {
    synchronized(attempted += 1)
    try body
    catch {
      case e: Throwable =>
        synchronized(failures += ("op" -> op) ~ ("class" -> e.getClass.getName) ~
          ("message" -> String.valueOf(e.getMessage)))
        System.err.println(s"[perfbench] $op failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        throw new Failed(e)
    }
  }

  /** A failed call ends the workload; the record keeps what ran. */
  private def measuring(body: => Unit): Unit =
    try body catch { case _: Failed => () }

  /** Rounds until the run time is used, at least one. A traced run makes
    * three instead: untraced, traced, untraced. The two untraced rounds, in
    * the same JVM on either side of the traced one, are the baseline of the
    * tracing overhead.
    */
  private def measure(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (if (tracer.available) r < 3 else r == 0 || secs(t0) < seconds) {
      tracer.enabled = tracer.available && r == 1
      round(r)
      r += 1
    }
  }

  private def writtenJson(written: Map[String, Storage.Written]): JObject =
    JObject(written.toList.map { case (t, w) =>
      JField(t, ("bytes" -> w.bytes) ~ ("data_files" -> w.dataFiles))
    })

  // ---- the delivery DAG ----------------------------------------------------

  private def seed(wh: Path): Unit = {
    call("seed_orders")(PipelineMain.seedOrders(spark, wh.toString,
      spark.read.parquet(dataDir.resolve("seed/dm_orders").toString)))
    // the order timestamps the seeded orders point at
    call("seed_order_timestamps")(new MergeTable(wh.resolve("dds/dm_timestamps").toString,
      Seq("ts")).upsert(spark.read.parquet(dataDir.resolve("seed/dm_timestamps").toString)))
  }

  private val countedTables = Seq("stg/deliveries", "dds/fct_deliveries", "dds/quarantine",
    "cdm/ledger")

  private def rowCounts(wh: Path): Map[String, Long] = countedTables.map { rel =>
    rel -> new MergeTable(wh.resolve(rel).toString, Nil).currentVersion
      .fold(0L)(v => spark.read.parquet(wh.resolve(rel).resolve(v).toString).count())
  }.toMap

  /** Per committed table: rows written, and how many of them are new or
    * changed against the version before the day.
    */
  private def useful(wh: Path, written: Map[String, Storage.Written],
                     before: Storage.Snapshot): JObject =
    JObject(written.toList.filter(_._2.versions.nonEmpty).map { case (table, w) =>
      val root = Storage.tableRoots(wh)
        .find(p => wh.relativize(p).toString.replace('/', '_') == table).get
      val last = spark.read.parquet(root.resolve(w.versions.last).toString)
      val prev = before.getOrElse(table, Map.empty).keys.toSeq.sortBy(_.drop(1).toLong).lastOption
      val n = last.count()
      // by name: a commit may order the columns differently from its base
      val changed = prev.fold(n)(p => last.exceptAll(spark.read.parquet(root.resolve(p).toString)
        .select(last.columns.map(org.apache.spark.sql.functions.col): _*)).count())
      JField(table, ("rows_written" -> n) ~ ("rows_new_or_changed" -> changed))
    })

  /** Set-up, repeated: a fresh warehouse, the order dims seeded, and the
    * preloaded days run through the three stages as one cold-start
    * increment (the backfill). Each repetition records its stage wall and
    * the bytes its stages committed. Keeps the last warehouse.
    */
  private def setUp(): Path = {
    var kept: Option[Path] = None
    (1 to setupReps).foreach { i =>
      val wh = runDir.resolve(s"wh-setup$i")
      var seeded: Storage.Snapshot = Map.empty
      val t0 = System.nanoTime()
      val stageS = tracer.span("backfill") {
        seed(wh)
        seeded = Storage.snapshot(wh)
        Stages.map(st => timed(call(s"backfill$i/$st")(tracer.span(s"backfill.$st")(
          PipelineMain.runStage(spark, st, wh.toString, Some(dataDir.resolve("pre").toString)))))
        ).sum
      }
      setupS += secs(t0)
      backfill += ("rep" -> i) ~ ("stage_s" -> stageS) ~
        ("written" -> writtenJson(Storage.written(seeded, Storage.snapshot(wh))))
      kept.foreach(Storage.delete)
      kept = Some(wh)
    }
    kept.get
  }

  /** Daily increments on a grown warehouse: set-up preloads days 1..K as
    * one increment; each round runs day K+1 through the three stages on a
    * hard-linked copy of it.
    */
  def dagDaily(): Unit = measuring {
    val k = opt("preload-days").toInt
    val day = f"day${k + 1}%02d"
    val base = setUp()
    var last: Option[Path] = None
    measure { r =>
      val wh = runDir.resolve(s"wh-round$r")
      Storage.linkCopy(base, wh)
      val counted = tracer.enabled
      val rowsBefore = if (counted) rowCounts(wh) else Map.empty[String, Long]
      val snap = Storage.snapshot(wh)
      val walls = tracer.span("day")(Stages.map { st =>
        timed(call(s"$day/$st")(tracer.span(st)(
          PipelineMain.runStage(spark, st, wh.toString, Some(dataDir.resolve(day).toString)))))
      })
      val written = Storage.written(snap, Storage.snapshot(wh))
      var rec = ("name" -> day) ~ ("round" -> r) ~ ("wall_s" -> walls.sum) ~
        ("traced" -> counted) ~ ("stage_s" -> Stages.zip(walls).toMap) ~
        ("written" -> writtenJson(written))
      if (counted)
        rec = rec ~ ("rows_before" -> rowsBefore) ~ ("rows_after" -> rowCounts(wh)) ~
          ("useful" -> useful(wh, written, snap))
      ops += rec
      rounds += ("round" -> r) ~ ("wall_s" -> walls.sum) ~ ("traced" -> counted) ~
        ("warehouse_bytes" -> Storage.uniqueBytes(wh)) ~ ("days" -> List(day))
      last.foreach(Storage.delete)
      last = Some(wh)
    }
    outputs += JField("check_warehouse", last.get.toString)
    outputs += JField("days_loaded", (1 to k + 1).toList.map(d => f"day$d%02d"))
  }

  // ---- persisted-ANN serving -----------------------------------------------

  private def mergeTableDirs(tmp: Path): Set[Path] = {
    val l = Files.list(tmp)
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_mergetable_")).toSet
    } finally l.close()
  }

  private def materialize(q: String, corpus: String, out: Path): Unit =
    QueryRegistry.byName(q).run(spark, dataDir.resolve(corpus).toString)
      .write.mode("overwrite").parquet(out.resolve(q).toString)

  /** Five registry queries in a seeded order, each fully materialized to
    * parquet (the outputs the check compares), passes repeated for the run
    * time. Set-up warms the JVM with the five queries over a small corpus,
    * one thread per query, so that their per-job latencies overlap: run one
    * after another, the warm-up would make every run of the workload about
    * 14 s longer.
    */
  def annIndex(): Unit = measuring {
    val queries = opt("queries").split(",").toSeq
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val out = runDir.resolve("query-out")
    (1 to setupReps).foreach { i =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(queries.size)
      setupS += timed {
        try queries.map(q => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = Run.this.call(s"setup$i/$q")(
            materialize(q, "warm", runDir.resolve("warm-out")))
        })).foreach { f =>
          try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
        finally pool.shutdown()
      }
    }
    measure { p =>
      val w = tracer.span("pass") {
        queries.map { q =>
          val before = mergeTableDirs(tmp)
          val w = timed(call(s"pass$p/$q")(tracer.span(s"query.$q")(materialize(q, "corpus", out))))
          val fresh = (mergeTableDirs(tmp) -- before).toSeq
          val written = fresh.flatMap(d => Storage.written(Map.empty, Storage.snapshot(d)).values)
          ops += ("name" -> q) ~ ("round" -> p) ~ ("wall_s" -> w) ~ ("traced" -> tracer.enabled) ~
            ("mt_bytes" -> written.map(_.bytes).sum) ~
            ("mt_unique_bytes" -> fresh.map(Storage.uniqueBytes).sum)
          w
        }.sum
      }
      rounds += ("round" -> p) ~ ("wall_s" -> w) ~ ("traced" -> tracer.enabled)
    }
    outputs += JField("query_out", out.toString)
    outputs += JField("oracles", JObject(queries.toList.map(q =>
      JField(q, JString(QueryRegistry.byName(q).oracle.getOrElse(""))))))
  }
}
