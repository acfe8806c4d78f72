package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, ScaleBench, SparkEntry, Verify}
import graft.core.{BBox, Sessions}
import graft.pipelines.TrafficAnalytics
import graft.sources.CsvIngest

/** The benchmark's JVM side: one workload, one session, one closed-loop
  * client thread.
  *
  * Usage: `Main <plan.properties>`. The plan names the workload, its
  * inputs, the seeded request order and the output directory; `run.py`
  * writes it and reads back what this program records:
  *
  *  - `run.json`: set-up times, CPU canaries before and after, peak RSS;
  *  - `requests.jsonl`: one line per request (warm-up and timed), with
  *    its latency split, error and — for the traffic API — its response;
  *  - `spans.jsonl` (traced runs only): jobs, SQL executions and actions;
  *  - `verify/` (query workload): every request's result as parquet, one
  *    directory per pass plus `setup/`, each with its `oracle_sql.json`,
  *    for the oracle compare.
  *
  * Nothing here is timed that the engine's user would not wait for:
  * sweeps and tracer bookkeeping happen between requests, off the request
  * clock, and the output checks after the run.
  */
object Main {

  final case class Outcome(callS: Double, sinkS: Double, response: Seq[String])

  /** One request: a display name (query name or API call) and its body. */
  final case class Request(name: String, run: SparkSession => Outcome)

  trait Workload {
    /** Per-session preparation; part of set-up. */
    def prepare(spark: SparkSession): Unit = ()
    /** The fixed request that closes set-up. */
    def firstTouch: Request
    /** Requests run once, untimed, between set-up and the timed phase. */
    def warmup: Seq[Request] = Nil
    /** The timed stream, in blocks; the run stops between blocks. */
    def block(i: Int): Seq[Request]
    /** Blocks every run completes, so each kind of request is timed. */
    def minBlocks: Int = 1
    /** Whether block `b` of a traced run is traced. Traced runs alternate
      * traced and untraced stretches of `minBlocks` blocks, so each kind of
      * request is timed both ways and the tracer's own cost is measured in
      * the same process.
      */
    final def tracedBlock(b: Int): Boolean = (b / minBlocks) % 2 == 0
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- traffic API ------------------------------------------------------

  final class TrafficApi(dataDir: String, lines: Seq[String], val warm: Int) extends Workload {
    private var ta: TrafficAnalytics = _
    private val parsed = lines.map(_.split("\t", -1))

    override def prepare(spark: SparkSession): Unit =
      ta = new TrafficAnalytics(spark, dataDir)

    private def months(start: LocalDate, endIncl: LocalDate): Seq[String] =
      Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
        .takeWhile(!_.isAfter(endIncl))
        .map(d => f"${d.getYear}%04d${d.getMonthValue}%02d").toSeq

    private def request(i: Int): Request = {
      val f = parsed(i % parsed.length)
      val box = BBox(f(1).toDouble, f(2).toDouble, f(3).toDouble, f(4).toDouble)
      Request(f(0), _ => {
        val t0 = System.nanoTime()
        val df = f(0) match {
          case "accident" => ta.accidentCount(box, f(5), f(6))
          case "overspeed" => ta.overSpeedCount(box, f(5), f(6))
          case "avgspeed" => ta.averageSpeed(box, f(5))
        }
        val call = secs(t0)
        val t1 = System.nanoTime()
        val rows = ta.toJsonList(df).asScala.toSeq
        Outcome(call, secs(t1), rows)
      })
    }

    def firstTouch: Request = request(parsed.indexWhere(_ (0) == "overspeed"))
    override def warmup: Seq[Request] = (0 until warm).map(request)
    def block(i: Int): Seq[Request] = (0 until 3).map(k => request(warm + 3 * i + k))

    /** Traced runs: request `i`'s input files parsed alone through the
      * ingest, to noop.
      */
    def ingestSeconds(spark: SparkSession, i: Int): Double = {
      val f = parsed(i % parsed.length)
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      f(0) match {
        case "accident" =>
          noop(CsvIngest.readAccidents(spark, s"$dataDir/TF_ZFZD_CASESPECIFICATION.csv"))
        case kind =>
          val (s, e) =
            if (kind == "avgspeed") {
              val d = LocalDate.parse(f(5)); (d.minusDays(30), d)
            } else (LocalDate.parse(f(5)), LocalDate.parse(f(6)))
          val ms = months(s, e)
          noop(CsvIngest.readSpeedBase(spark, s"$dataDir/speed_base.csv"))
          noop(CsvIngest.readSpeedData(spark, ms.map(m => s"$dataDir/$m/${m}CSYDATA.csv")))
          noop(CsvIngest.readFeeData(spark, ms.map(m => s"$dataDir/$m/${m}SFZDATA.csv")))
      }
      secs(t0)
    }
  }

  // ---- declared queries -------------------------------------------------

  /** Declared queries in seeded pass orders: the first pass, less
    * set-up's query, is the untimed warm-up; the rest are timed, one
    * request per block. Every request writes its result as parquet under
    * `verify/<dir>/<query>`, with that directory's `oracle_sql.json`, so
    * the oracle compare after the run checks every result, set-up's and
    * warm-up's included. A query runs once per pass.
    */
  final class Queries(tablesDir: String, passes: Seq[Seq[String]], first: String,
                      out: Path) extends Workload {
    private val passLen = passes.head.length

    private def request(name: String, dirName: String): Request = {
      val dir = out.resolve("verify").resolve(dirName)
      if (!Files.exists(dir.resolve("oracle_sql.json"))) {
        Files.createDirectories(dir)
        Verify.writeOracleJson(dir.toString, passes.head)
      }
      Request(name, spark => {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, tablesDir)
        val call = secs(t0)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(dir.resolve(name).toString)
        Outcome(call, secs(t1), Nil)
      })
    }

    def firstTouch: Request = request(first, "setup")
    override def warmup: Seq[Request] = passes.head.filterNot(_ == first).map(request(_, "w"))
    /** One request per block, so a run ends within one request of
      * `seconds`.
      */
    def block(i: Int): Seq[Request] = {
      val p = i / passLen
      Seq(request(passes.tail(p % passes.tail.length)(i % passLen), s"p$p"))
    }
    override def minBlocks: Int = passLen
  }

  // ---- the run ----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(sys.error(s"plan is missing '$k'"))
    val out = Paths.get(p("out"))
    Files.createDirectories(out)
    val cpus = p("cpus").toInt
    val seconds = p("seconds").toDouble
    val traced = p("trace") == "1"
    val work = p("work")

    val workload: Workload = p("workload") match {
      case "traffic_api" =>
        new TrafficApi(p("data"), Files.readAllLines(Paths.get(p("requests"))).asScala.toSeq,
          p("warmup").toInt)
      case "lakehouse_dml" =>
        new Queries(p("data"), Files.readAllLines(Paths.get(p("passes"))).asScala.toSeq
          .map(_.split(",").toSeq), p("first_touch"), out)
      case w => sys.error(s"unknown workload '$w'")
    }

    // CPU canary (ScaleBench's fixed compute probe) before and after the
    // run: two sets of runs are comparable only if their canaries agree.
    val canaryIters = 100000000L
    ScaleBench.canary(1, 20000000L) // JIT warm-up of the probe, untimed
    val canaryBefore = Seq(ScaleBench.canary(1, canaryIters), ScaleBench.canary(cpus, canaryIters))

    def session(): SparkSession = {
      val s = Sessions.builder(s"local[$cpus]", cpus)
        .config("spark.local.dir", s"$work/local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up, cold: session start in a fresh JVM, the workload's
    // preparation and its first request (class loading, extension
    // registration, first code generation).
    val t0setup = System.nanoTime()
    val spark = session()
    val sessionS = secs(t0setup)
    workload.prepare(spark)
    workload.firstTouch.run(spark)
    val setupS = secs(t0setup)

    val records = Seq.newBuilder[String]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    val warehouse = new File(s"$work/warehouse")

    def runOne(id: String, phase: String, r: Request, trace: Boolean,
               extra: => Seq[(String, String)]): Unit = {
      Bench.sweepBlocks(spark)
      val since = if (trace) Disk.now(tmpRoot) else 0L
      val fsBytes0 = if (trace) Disk.hadoopBytesWritten() else 0L
      spark.sparkContext.setLocalProperty(Tracer.RequestKey, id)
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (o, err) =
        try (Some(r.run(spark)), None)
        catch { case e: Throwable =>
          (None, Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
        }
      val lat = secs(t0)
      val t1ms = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(Tracer.RequestKey, null)
      val traceFields = if (!trace) Nil else {
        val sc = spark.sparkContext
        val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        Seq("storage_bytes" -> storage.toString,
          "persisted_rdds" -> sc.getPersistentRDDs.size.toString,
          "files_written" -> Disk.written(Seq(tmpRoot, warehouse), since).toString,
          "bytes_written" -> (Disk.hadoopBytesWritten() - fsBytes0).toString) ++ extra
      }
      records += Json.obj(Seq(
        "id" -> Json.str(id), "phase" -> Json.str(phase), "name" -> Json.str(r.name),
        "traced" -> trace.toString, "start_ms" -> t0ms.toString, "end_ms" -> t1ms.toString,
        "latency_s" -> Json.num(lat),
        "call_s" -> Json.num(o.map(_.callS).getOrElse(0.0)),
        "sink_s" -> Json.num(o.map(_.sinkS).getOrElse(0.0)),
        "error" -> err.map(Json.str).getOrElse("null"),
        "response" -> Json.arr(o.map(_.response).getOrElse(Nil).map(Json.str))) ++
        traceFields)
    }

    val tw = System.nanoTime()
    workload.warmup.zipWithIndex.foreach { case (r, i) =>
      runOne(s"w$i", "warmup", r, trace = false, Nil)
    }
    val warmupS = secs(tw)

    // Timed phase: whole blocks, at least `minBlocks`, and then as many as
    // bring the phase closest to `seconds` (another block starts while the
    // expected end, at the mean block time so far, overshoots less than
    // stopping now falls short).
    // Traced runs complete a traced and an untraced stretch at least.
    val t0 = System.nanoTime()
    val minBlocks = if (traced) 2 * workload.minBlocks else workload.minBlocks
    var b = 0
    var n = 0
    while (b < minBlocks || secs(t0) + secs(t0) / b / 2 < seconds) {
      val trace = traced && workload.tracedBlock(b)
      tracer.foreach(t => if (trace) t.attach() else t.detach())
      workload.block(b).foreach { r =>
        val idx = n
        runOne(s"r$n", "timed", r, trace, workload match {
          case t: TrafficApi => Seq("ingest_s" -> Json.num(t.ingestSeconds(spark, t.warm + idx)))
          case _ => Nil
        })
        n += 1
      }
      b += 1
    }
    val timedS = secs(t0)
    val spans = tracer.map(_.dump()).getOrElse(Nil)
    spark.stop()
    val canaryAfter = Seq(ScaleBench.canary(1, canaryIters), ScaleBench.canary(cpus, canaryIters))

    Files.write(out.resolve("requests.jsonl"), records.result().asJava)
    if (traced) Files.write(out.resolve("spans.jsonl"), spans.asJava)
    Files.writeString(out.resolve("run.json"), Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "timed_s" -> Json.num(timedS),
      "blocks" -> b.toString,
      "canary_before_s" -> Json.arr(canaryBefore.map(Json.num)),
      "canary_after_s" -> Json.arr(canaryAfter.map(Json.num)),
      "vm_hwm_kb" -> Disk.vmHwmKb.toString)))
  }
}

/** Small host probes: files and bytes written, and the JVM's
  * resident-set high-water mark.
  */
object Disk {
  private val Clock = ".perfbench-clock"

  /** The file system's own clock, read off a marker file written now: file
    * times need not agree with the JVM's wall clock.
    */
  def now(dir: File): Long = {
    val f = new File(dir, Clock)
    Files.writeString(f.toPath, "")
    f.lastModified
  }

  /** Files under `roots` last modified at or after `since` (a [[now]]
    * reading). Files a request both writes and deletes are not seen.
    */
  def written(roots: Seq[File], since: Long): Long = {
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile && f.getName != Clock && f.lastModified >= since) files += 1
    roots.foreach(walk)
    files
  }

  /** Bytes written so far through Hadoop's local file system ("file"
    * scheme), which every table, manifest and data file write goes
    * through — including files deleted again before a request returns.
    */
  def hadoopBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .getOrElse(0L)

  def vmHwmKb: Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    }.getOrElse(-1L)
}
