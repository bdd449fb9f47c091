package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.QueryDef
import graft.engine.{ArchiveConfig, Engine, Format, RowFormatter}

/** One benchmark process. It sets the session up three times, runs
  * whole rounds of one workload's operations in a closed loop from one
  * client thread, checks every output, and writes the raw samples as
  * JSON for `run.py`, which turns them into metrics.
  *
  * Arguments (all required, `--name value`): workload, ops (comma
  * list: registry entry names, or archive configuration names for the
  * archive workload), seed, seconds, trace (0|1), cpus, data (the
  * parquet testdata directory), work (scratch directory inside the
  * checkout), out (result file), mode (`run` or `record`).
  */
object Harness {
  final case class Args(workload: String, ops: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, cpus: Int, data: String, work: Path,
      out: Path, record: Boolean)

  /** Set-ups per process; `setup_s` is their median. The first counts
    * from JVM start, the others stop the session and build a new one. */
  val SetUps = 3
  /** Rows of lineitem the formatter probe formats per pass. */
  val ProbeRows = 50000
  val ProbePasses = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("ops").split(",").toSeq.filter(_.nonEmpty),
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("data"), Paths.get(need("work")),
      Paths.get(need("out")), need("mode") == "record")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Harness(a).run()
    Files.writeString(a.out, out)
    // the run is over and its result written: end the JVM without
    // Spark's shutdown hooks, which stop the session for a second
    Runtime.getRuntime.halt(0)
  }

  /** The module an operator belongs to, named after its source file. */
  val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "Aggregates" -> graft.operators.Aggregates.queries,
    "Windows" -> graft.operators.Windows.queries,
    "Scalars" -> graft.operators.Scalars.queries,
    "EventWindows" -> graft.operators.EventWindows.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Multimodal" -> graft.operators.MultimodalOps.queries,
    "Graph" -> graft.operators.Graph.queries,
    "Pipeline" -> graft.operators.Pipeline.queries,
  ).flatMap { case (mod, qs) => qs.map(_.name -> mod) }.toMap

  /** Source files whose frames name a module in a job's call site.
    * Other repository files (shared helpers, expressions, plan rules)
    * are skipped, so their jobs count to the module that called them.
    */
  val moduleOfFile: Map[String, String] =
    (moduleOf.values.toSeq.distinct.filterNot(_ == "Multimodal").map(m => m -> m) ++ Seq(
      "Tables" -> "Tables",
      "Multimodal" -> "Multimodal", "ArrowBatchStage" -> "Multimodal",
      "AudioCodecs" -> "Multimodal", "ImageCodecs" -> "Multimodal",
      "VideoCodecs" -> "Multimodal",
      "Engine" -> "engine", "Formatters" -> "engine",
      "ArchiveConfig" -> "engine")).toMap

  private val Frame = """^(graft\.[\w.$]+)\((\w+)\.scala:\d+\)$""".r

  /** Module of a job from its long call site: the first repository
    * frame of a known module; `fallback` when there is none (jobs
    * started by the benchmark's own materialization, or on Spark's
    * broadcast threads).
    */
  def moduleOfSite(site: String, fallback: String): String =
    site.split("\n").iterator.map(_.trim).collectFirst {
      case Frame(_, file) if moduleOfFile.contains(file) => moduleOfFile(file)
    }.getOrElse(fallback)

  /** Archive configurations the archive workload rotates through. */
  val archiveConfigs: Map[String, ArchiveConfig => ArchiveConfig] = Map(
    "csv" -> (_.copy(format = Format.Csv)),
    "json" -> (_.copy(format = Format.JsonArray)),
    "yaml" -> (_.copy(format = Format.Yaml)),
    "csv_null_cols" -> (_.copy(format = Format.Csv, nullValue = Some("\\N"),
      columns = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_shipdate", "l_returnflag"))),
    "csv_sharded" -> (_.copy(format = Format.Csv, sharded = true)),
    "json_sharded" -> (_.copy(format = Format.JsonArray, sharded = true)),
  )
  val ArchiveTable = "lineitem"
  /** Local property that tags every job with its span. */
  val SpanKey = "perfbench.span"

  /** One timed call into the library: an operation's build, action or
    * archive phase. */
  final case class Span(op: Int, name: String, module: String, phase: String,
      startMs: Long, endMs: Long, seconds: Double)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}

final class Harness(a: Harness.Args) {
  import Harness._

  private var spark: SparkSession = _
  private val archiving = a.workload == "archive"
  private val queries: Map[String, QueryDef] =
    if (archiving) Map.empty
    else a.ops.map(n => n -> graft.Registry.byName(n)).toMap
  if (archiving) a.ops.foreach(n =>
    require(archiveConfigs.contains(n), s"unknown archive configuration: $n"))

  private def now(): Double = System.nanoTime() / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Untimed first touches: the range sum `graft.Bench` warms up with,
    * one parquet scan, and one small query through the operators the
    * registry leans on (exchange, sort-merge and broadcast joins,
    * aggregation, window, sort, the noop sink), so that the first timed
    * operation does not pay the JVM's first use of them.
    */
  private def warmUp(): Unit = {
    spark.range(200000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${a.data}/$ArchiveTable.parquet").limit(1000).collect()
    val r = spark.range(200L).selectExpr("id", "id % 97 AS k", "CAST(id AS STRING) AS s")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("id").desc)
    r.join(r.select(col("id").as("id2"), col("s").as("s2")), col("id") === col("id2"))
      .join(broadcast(r.limit(10).select(col("k").as("kb"))), col("k") === col("kb"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .groupBy("k").agg(sum("rn"), max("s2"), collect_list("id"))
      .orderBy("k")
      .write.format("noop").mode("overwrite").save()
  }

  /** One set-up: a fresh session and the warm-up. */
  private def setUp(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = session()
    warmUp()
  }

  private var formatterSample: (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) = _

  /** Preparation after the set-ups, untimed. Archive: each
    * configuration once over a 20 000-row slice of lineitem, so the
    * formatters and writers are compiled before the first timed
    * archive. Traced runs: the formatter probe's sample.
    */
  private def prepare(): Unit = {
    if (archiving && !a.record) {
      val slice = spark.read.parquet(s"${a.data}/$ArchiveTable.parquet").limit(20000)
      val dir = a.work.resolve("archive").resolve("warm-up")
      a.ops.foreach { n =>
        new Engine(spark).archiveDF(slice, dir.toString, ArchiveTable, archiveConfigs(n))
        deleteTree(dir)
      }
    }
    if (a.trace) {
      val df = spark.read.parquet(s"${a.data}/$ArchiveTable.parquet").limit(ProbeRows)
      formatterSample = (df.schema, df.collect())
    }
  }

  // ---- spans: one per timed call into the library --------------------

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private def span[T](op: Int, name: String, module: String, phase: String)(body: => T): (T, Double) = {
    spark.sparkContext.setLocalProperty(SpanKey, s"$op:$phase")
    val ms0 = System.currentTimeMillis()
    val t0 = now()
    try {
      val r = body
      val dt = now() - t0
      spans += Span(op, name, module, phase, ms0, System.currentTimeMillis(), dt)
      (r, dt)
    } finally spark.sparkContext.setLocalProperty(SpanKey, null)
  }

  // ---- operations ------------------------------------------------------

  /** Row count and an order-independent sum of xxhash64 over every
    * column, observed while the sink runs the whole plan.
    */
  private def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(20, 0))).as("hash"))
  }

  private def clearCaches(): Unit = spark.sharedState.cacheManager.clearCache()

  private def runQuery(i: Int, round: Int, name: String): Map[String, Any] = {
    val q = queries(name)
    val module = moduleOf.getOrElse(name, "other")
    clearCaches()
    val t0 = now()
    try {
      val (df, build) = span(i, name, module, "build")(q.fn(spark, a.data))
      val obs = Observation(s"fp$i")
      val (_, action) = span(i, name, module, "action") {
        fingerprinted(df, obs).write.format("noop").mode("overwrite").save()
      }
      val m = obs.get
      // the result's own analysis runs eagerly while `fn` builds it,
      // before any action a QueryExecutionListener would see
      val analysisMs = df match {
        case d: org.apache.spark.sql.classic.Dataset[_] =>
          d.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        case _ => 0L
      }
      val rows = m("rows").asInstanceOf[Long]
      val hash = Option(m("hash")).map(_.toString).getOrElse("0")
      if (a.record) dump(name)
      Map("op" -> i, "round" -> round, "name" -> name, "module" -> module,
        "build_s" -> build, "action_s" -> action, "latency_s" -> (build + action),
        "rows" -> rows, "hash" -> hash, "analysis_ms" -> analysisMs)
    } catch {
      case e: Throwable => failed(i, round, name, module, now() - t0, e)
    }
  }

  private def failed(i: Int, round: Int, name: String, module: String,
      dt: Double, e: Throwable): Map[String, Any] = {
    System.err.println(s"[perfbench] $name failed: $e")
    Map("op" -> i, "round" -> round, "name" -> name, "module" -> module,
      "latency_s" -> dt, "error" -> e.toString)
  }

  private def runArchive(i: Int, round: Int, name: String): Map[String, Any] = {
    val destDir = a.work.resolve("archive").resolve(s"op$i")
    deleteTree(destDir)
    Files.createDirectories(destDir)
    clearCaches()
    val engine = new Engine(spark)
    val t0 = now()
    try {
      val (dest, dt) = span(i, name, "engine", "archive") {
        engine.archive(a.data, ArchiveTable, destDir.toString, archiveConfigs(name))
      }
      val destPath = Paths.get(dest)
      val staging = walk(destDir).count(_.getFileName.toString.contains(".staging-"))
      val sc = spark.sparkContext
      val groupActive = sc.getLocalProperty("spark.jobGroup.id") != null ||
        sc.statusTracker.getActiveJobIds().nonEmpty
      val sharded = Files.isDirectory(destPath)
      val files = if (sharded) walk(destPath).filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))
        else Seq(destPath)
      val bytes = files.map(Files.size).sum
      val check: Map[String, Any] =
        if (sharded) Map("rows" -> readBackRows(name, dest))
        else Map("crc32c" -> crc32c(destPath))
      deleteTree(destDir)
      Map("op" -> i, "round" -> round, "name" -> name, "module" -> "engine",
        "latency_s" -> dt, "action_s" -> dt, "bytes" -> bytes,
        "parts" -> files.size, "staging_left" -> staging,
        "group_active" -> groupActive) ++ check
    } catch {
      case e: Throwable => failed(i, round, name, "engine", now() - t0, e)
    }
  }

  private def readBackRows(name: String, dest: String): Long =
    if (name.startsWith("csv")) spark.read.option("header", "true").csv(dest).count()
    else spark.read.text(dest).count()

  private def crc32c(p: Path): Long = {
    val c = new java.util.zip.CRC32C()
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { c.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    c.getValue
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)

  /** Record mode: the result as one parquet file, in the layout
    * `tools/check.py` compares against the DuckDB oracle.
    */
  private def dump(name: String): Unit = {
    clearCaches()
    queries(name).fn(spark, a.data).coalesce(1).write.mode("overwrite")
      .parquet(a.work.resolve("dump").resolve(name).toString)
  }

  // ---- formatter probe -------------------------------------------------

  private def formatterProbe(): Map[String, Double] = {
    val (schema, rows) = formatterSample
    Seq("csv" -> Format.Csv, "json" -> Format.JsonArray, "yaml" -> Format.Yaml).map {
      case (n, f) =>
        val fmt = RowFormatter.of(f)
        var sink = 0L
        val passes = (1 to ProbePasses).map { _ =>
          val t0 = System.nanoTime()
          rows.foreach(r => sink += fmt.row(schema, r, None).length)
          (System.nanoTime() - t0).toDouble / rows.length
        }
        require(sink > 0)
        s"formatter.${n}_ns_per_row" -> passes.sorted.apply(passes.size / 2)
    }.toMap
  }

  // ---- the run -----------------------------------------------------------

  def run(): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (1 to SetUps).map { k =>
      val t0 = now()
      setUp()
      if (k == 1) (System.currentTimeMillis() - jvmStart) / 1e3 else now() - t0
    }
    val t1 = now()
    prepare()
    val preparation = now() - t1
    val tracer = if (a.trace) Some(new Tracer(spark, a.record)) else None

    val rng = new scala.util.Random(a.seed)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    var i = 0
    // whole rounds; another starts only if it should end within the
    // measuring time (the first round always runs)
    val maxRounds = if (a.record) 1 else Int.MaxValue
    while (rounds.isEmpty || (rounds.size < maxRounds && now() - t0 + rounds.last <= a.seconds)) {
      val order = if (a.record) a.ops else rng.shuffle(a.ops)
      val inRound = order.map { n =>
        i += 1
        val s = if (archiving) runArchive(i, rounds.size, n) else runQuery(i, rounds.size, n)
        samples += s
        s("latency_s").asInstanceOf[Double]
      }
      rounds += inRound.sum
    }
    val measured = now() - t0
    val layers = tracer.map(_.finish(spans.toSeq, samples.toSeq, rounds.size, a.cpus))
      .getOrElse(Map.empty) ++ (if (a.trace) formatterProbe() else Map.empty)
    val rss = vmHwmMb()
    val used = tracer.map(_.used).getOrElse(Map.empty)
    json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "setups_s" -> setups, "preparation_s" -> preparation, "rounds_s" -> rounds,
      "measured_s" -> measured, "rss_peak_mb" -> rss, "ops" -> samples,
      "layers" -> layers, "used" -> used,
      "oracle" -> (if (a.record) graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
                   else Map.empty)))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
}
