package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** The archiver: read → project → null-overlay → format → sink, the
  * reference's whole pipeline (chiv.go:87–198) re-expressed on Spark.
  *
  * API parity (SURVEY.md §2.7): `archive` ≈ `Archive(db, s3, table,
  * bucket, opts)`; `archiveDF` ≈ `ArchiveRows` (bring-your-own-query,
  * chiv.go:45–52); constructor config + per-call overrides replicate
  * the option-overlay semantics (chiv.go:67–79, 87–91).
  *
  * Sink semantics: the reference streams one S3 object per archive
  * through an io.Pipe (bounded memory, chiv.go:127–143). Here:
  *   - parity mode: one exact-named object — partitions format in
  *     parallel to staged byte files, then the driver concatenates
  *     them byte-for-byte to the exact key (bounded memory, pure I/O
  *     on the sequential leg).
  *   - sharded mode (`sharded = true`): the 100 TB path — executors
  *     write part objects under `<key>/` in parallel via the
  *     committer; CSV gets a header per part, JSON degrades to
  *     JSON-lines (array framing has no parallel equivalent).
  * Any `hadoop fs` scheme works as destination (file://, hdfs://,
  * s3a://); writes go through the Hadoop FileSystem API.
  */
final class Engine(spark: SparkSession, base: ArchiveConfig = ArchiveConfig()) {

  /** Archive a named table from `source` (the Spark-world `Archive`).
    * A `jdbc:` source is the reference's own shape — a full-table scan
    * against a live database (chiv.go:200–215, `SELECT <cols> FROM
    * <table>`), with Spark pushing projection/predicates into the
    * cursor; anything else is a parquet data directory.
    */
  def archive(source: String, table: String, destDir: String,
      config: ArchiveConfig => ArchiveConfig = identity): String = {
    val df = stage("query") {
      if (source.startsWith("jdbc:"))
        graft.sources.Sources.jdbcTable(spark, source, table)
      else spark.read.parquet(s"$source/$table.parquet")
    }
    archiveDF(df, destDir, table, config)
  }

  /** Archive any DataFrame (≈ ArchiveRows: the caller brings the
    * query; key defaults to literal "table", chiv.go:224–226).
    */
  def archiveDF(df: DataFrame, destDir: String, table: String = "table",
      config: ArchiveConfig => ArchiveConfig = identity): String = {
    val cfg = config(base) // option overlay: per-call copy shadows base
    val projected = stage("columns") {
      if (cfg.columns.nonEmpty) df.select(cfg.columns.map(df.col): _*) else df
    }
    val key = cfg.resolvedKey(table)
    val dest = s"${destDir.stripSuffix("/")}/$key"
    if (cfg.sharded) writeSharded(projected, cfg, dest)
    else writeSingleObject(projected, cfg, dest)
    dest
  }

  /** ArchiveWithContext (A2, chiv.go:32–34): the same archive, but
    * cancellable mid-flight. chiv threads a `context.Context` through
    * the row loop (chiv.go:166–168); the Spark analogue is a job
    * group — every job the archive submits is tagged, and `cancel()`
    * kills the running stages cluster-wide (`interruptOnCancel` sends
    * a thread interrupt to executor tasks).
    *
    * One deliberate divergence: chiv's per-row check returns `nil` on
    * cancellation, so a cancelled context can yield a silently
    * truncated but "successful" object (SURVEY §3.1 note (a)). At
    * 100 TB a truncated-but-green archive is data corruption, so here
    * cancellation surfaces as a stage-prefixed [[ArchiveException]]
    * and the destination object is never committed — the final object
    * appears only via a rename after a complete write, and staged
    * parts are discarded with the job: the job is cancelled and its
    * tasks drained before staging is deleted (a task outliving the
    * drain's bound could still recreate staging, the same
    * residual-garbage caveat Spark's own file committers carry).
    */
  def archiveDFCancellable(df: DataFrame, destDir: String, table: String = "table",
      config: ArchiveConfig => ArchiveConfig = identity): ArchiveJob = {
    val group = s"graft-archive-$table-${java.util.UUID.randomUUID()}"
    val promise = scala.concurrent.Promise[String]()
    val runner = new Thread(() => {
      try {
        // job-group tags are thread-local: every action archiveDF
        // runs from this thread inherits the group
        spark.sparkContext.setJobGroup(group, s"graft archive $table",
          interruptOnCancel = true)
        try promise.success(archiveDF(df, destDir, table, config))
        finally spark.sparkContext.clearJobGroup()
      } catch {
        case e: Throwable =>
          // "download" is only the fallback label for pre-stage
          // plumbing failures
          promise.failure(Engine.tagged(e).getOrElse(new ArchiveException("download", e)))
      }
    }, group)
    runner.setDaemon(true)
    runner.start()
    new ArchiveJob(spark, group, promise.future)
  }

  /** True for formats written by Spark's columnar writers rather than
    * the row formatters.
    */
  private def columnar(f: Format): Boolean =
    f == Format.Parquet || f == Format.Orc

  private def writeSingleObject(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit = {
    if (cfg.partitionBy.nonEmpty)
      throw new ArchiveException("upload", new IllegalArgumentException(
        "partitionBy requires sharded mode: one exact-named object cannot carry a directory layout"))
    if (columnar(cfg.format)) return writeColumnarSingle(df, cfg, dest)
    val fmt = RowFormatter.of(cfg.format)
    val schema = df.schema
    // compiled once on the driver; every task deserializes its own copy
    val writer = fmt.writer(schema, cfg.nullValue)
    // invocation-unique staging: two concurrent archives to the SAME
    // destination (trivial via archiveDFCancellable) must not
    // interleave staged parts or delete each other's staging on their
    // own failure path; the last-wins race is then confined to the
    // final commit. That commit is delete(target)-then-rename — a
    // two-step window in which a concurrent committer can recreate the
    // target (the loser's rename then fails with IllegalStateException
    // rather than corrupting) and a reader can briefly observe the
    // destination missing; a single-step rename-with-overwrite (where
    // the filesystem offers one) would close it. The
    // trade-off vs a fixed name: a hard driver kill (no cleanup path
    // runs) leaks a uniquely-named `.staging-*` dir instead of being
    // overwritten by the next run — the same residual class as Spark's
    // own `_temporary` attempt dirs; [[vacuumStaging]] is the periodic
    // reap policy (see docs/S3A.md for the object-store variant).
    val staging = dest + ".staging-" + java.util.UUID.randomUUID()
    // Format on executors (the expensive part), every partition IN
    // PARALLEL in one Spark job, each streaming its rows — joined by
    // the in-part separators — to one staged byte file. (The previous
    // toLocalIterator implementation ran one sequential job per
    // partition: 34 s vs 3.6 s sharded at sf0.1, and a hard driver
    // bottleneck at scale.)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(spark.sparkContext.hadoopConfiguration))
    cleaningStagingOnFailure(staging) {
      val stagedRdd = stage("download") {
        val sep = fmt.separator.getBytes(StandardCharsets.UTF_8)
        df.queryExecution.toRdd.mapPartitionsWithIndex { (idx, it) =>
          // Task-commit protocol: write to an attempt-unique file, then
          // commit with a rename. Without it, speculative or zombie
          // attempts of the same partition interleave bytes in one
          // open staging file — silent corruption the collect() cannot
          // see. A lost rename race means an identical-bytes attempt
          // already committed (partitions format deterministically),
          // so the loser just discards its file.
          val ctx = org.apache.spark.TaskContext.get()
          val attemptId = if (ctx == null) 0L else ctx.taskAttemptId()
          val attempt = new Path(f"$staging/part-$idx%05d.attempt-$attemptId")
          val committed = new Path(f"$staging/part-$idx%05d")
          val fs = attempt.getFileSystem(bcConf.value.value)
          var any = false
          val out = fs.create(attempt, true)
          val buf = new Utf8Buffer(1 << 20)
          try {
            try {
              // row production + formatting are chiv's download leg —
              // tag their failures at the source so the driver rethrows
              // the right stage; writes to the staging file stay on the
              // upload leg (destination-filesystem I/O)
              var done = false
              while (!done) {
                // a cancelled job's tasks stop at the next row, even
                // without an interrupt
                if (ctx != null) GraftBridge.killTaskIfInterrupted(ctx)
                try {
                  if (it.hasNext) {
                    if (any) buf.bytes(sep)
                    writer.write(it.next(), buf)
                    any = true
                  } else done = true
                } catch {
                  case e: ArchiveException => throw e
                  case e: Exception => throw new ArchiveException("download", e)
                }
                if (done || buf.length >= (1 << 20)) { buf.writeTo(out); buf.reset() }
              }
            } finally out.close()
          } catch {
            case e: Throwable =>
              // a failed or killed attempt removes its own file, after
              // the close (which is the upload on object stores)
              try fs.delete(attempt, false)
              catch { case d: Exception => e.addSuppressed(d) }
              throw e
          }
          // a killed task must not commit: after a job abort the driver
          // deletes staging, and a straggler's late rename would
          // recreate it (narrows the race; full protection against
          // zombies is a committer-level guarantee Spark itself also
          // only approximates)
          val killed = ctx != null && ctx.isInterrupted()
          if (!any || killed) fs.delete(attempt, false)
          else if (!fs.rename(attempt, committed)) fs.delete(attempt, false)
          Iterator.single((idx, any))
        }
      }
      // …then ONE sequential driver-side byte concatenation to the
      // exact key: pure I/O at filesystem copy speed (no row decode, no
      // per-partition job scheduling), preserving header / array
      // framing at the seams. Single-object output is driver-bound by
      // contract (one named object); sharded mode is the scale path.
      // The staged job runs inside the upload stage: its writes land on
      // the destination filesystem, so an unwritable destination is an
      // upload error (chiv parity) — formatter errors carry their own
      // stage from the task, see above.
      //
      // OVERLAPPED since r9 (guide §2.6 "overlap independent work"):
      // instead of a collect() barrier followed by the full concat, the
      // job is submitted with a per-partition result handler, and the
      // concat loop copies part i the moment task i has committed it
      // (the task-side rename happens before the task result is
      // produced, so a delivered result means the part file is
      // complete). Driver concat I/O thus runs WHILE later partitions
      // are still formatting; byte order is unchanged — the loop
      // appends strictly in partition order.
      stage("upload") {
        val target = new Path(dest)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val n = stagedRdd.getNumPartitions
        val results = new Array[(Int, Boolean)](n)
        val ready = new Array[Boolean](n)
        val lock = new Object
        @volatile var failure: Option[Throwable] = None
        val fut = spark.sparkContext.submitJob[(Int, Boolean), (Int, Boolean), Unit](
          stagedRdd, it => it.next(), 0 until n,
          (idx, res) => lock.synchronized {
            results(idx) = res; ready(idx) = true; lock.notifyAll()
          },
          ())
        fut.onComplete {
          case scala.util.Failure(e) =>
            lock.synchronized { failure = Some(e); lock.notifyAll() }
          case _ => ()
        }(scala.concurrent.ExecutionContext.global)
        // concatenate into a temp object INSIDE staging, then commit
        // with one rename: a failure mid-copy can never leave a
        // truncated-but-plausible object at the exact key (the catch
        // below removes staging, temp object included)
        val tmp = new Path(s"$staging/_object")
        try {
          val out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 20)
          try {
            out.write(fmt.open(schema).getBytes(StandardCharsets.UTF_8))
            var first = true
            var i = 0
            while (i < n) {
              lock.synchronized {
                while (!ready(i) && failure.isEmpty) lock.wait()
              }
              failure.foreach(throw _) // stage() unwraps the task's ArchiveException
              val any = results(i)._2
              if (any) {
                if (!first && fmt.separator.nonEmpty)
                  out.write(fmt.separator.getBytes(StandardCharsets.UTF_8))
                val in = fs.open(new Path(f"$staging/part-$i%05d"))
                try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
                finally in.close()
                first = false
              }
              i += 1
            }
            out.write(fmt.close.getBytes(StandardCharsets.UTF_8))
          } finally out.close()
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            throw new IllegalStateException(s"rename $tmp -> $target failed")
        } catch {
          case e: Throwable =>
            // the caller deletes staging next: no task may still be
            // writing into it (or create it again) by then
            cancelAndDrain(fut)
            throw e
        }
        fs.delete(new Path(staging), true)
      }
    }
  }

  /** Cancel `fut`'s job, then block until its tasks have ended: a
    * cancelled or failed job completes at once, while its killed tasks
    * stop asynchronously. The cancelled job's own error is expected.
    */
  private def cancelAndDrain(fut: org.apache.spark.FutureAction[_]): Unit = {
    fut.cancel()
    try scala.concurrent.Await.ready(fut, scala.concurrent.duration.Duration.Inf)
    catch { case _: Throwable => () }
    val tracker = spark.sparkContext.statusTracker
    val stages = fut.jobIds.flatMap(tracker.getJobInfo(_).toSeq.flatMap(_.stageIds.toSeq))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (System.nanoTime() < deadline &&
      stages.exists(tracker.getStageInfo(_).exists(_.numActiveTasks > 0)))
      Thread.sleep(10)
  }

  /** Run `body`; on ANY failure best-effort delete the staging path
    * (failed or cancelled archives must not leak staged bytes), then
    * rethrow.
    */
  private def cleaningStagingOnFailure[T](staging: String)(body: => T): T =
    try body catch {
      case e: Throwable =>
        try {
          val p = new Path(staging)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        } catch { case _: Exception => () }
        throw e
    }

  /** Columnar single object: one part file written to a staging dir,
    * then committed to the exact key with a rename (the classic
    * exact-name pattern; on S3A the rename is a server-side copy).
    */
  private def writeColumnarSingle(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit = {
    // invocation-unique for the same reason as the row path above
    val stagingDir = dest + ".staging-" + java.util.UUID.randomUUID()
    cleaningStagingOnFailure(stagingDir) {
      stage("upload") {
        val path = new Path(dest)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val staging = new Path(stagingDir)
        val one = df.coalesce(1).write.mode("overwrite")
        cfg.format match {
          case Format.Orc => one.orc(staging.toString)
          case _ => one.parquet(staging.toString)
        }
        val part = fs.listStatus(staging)
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(s"no part file under $staging"))
        fs.delete(path, false)
        if (!fs.rename(part, path))
          throw new IllegalStateException(s"rename $part -> $path failed")
        fs.delete(staging, true)
      }
    }
  }

  private def writeSharded(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit = {
    // hive-style partition layout (cfg.partitionBy): supported for the
    // Spark codegen writers (parquet/orc/csv), where partition values
    // move into the directory path and downstream scans prune on them
    def laidOut(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*) else w
    stage("upload") {
      cfg.format match {
        case Format.Parquet =>
          laidOut(df.write.mode("overwrite")).parquet(dest)
        case Format.Orc =>
          laidOut(df.write.mode("overwrite")).orc(dest)
        case Format.Csv =>
          // Spark's codegen'd CSV writer: header per part, Go-style
          // minimal quoting, placeholder via nullValue option.
          laidOut(df.write.mode("overwrite")
            .option("header", "true")
            .option("nullValue", cfg.nullValue.getOrElse(""))
            .option("emptyValue", "")
            // lossless in sharded mode: always print microseconds
            // (single-object parity mode omits a zero fraction; the
            // writer option cannot express that conditionality)
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
            .csv(dest)
        case other =>
          if (cfg.partitionBy.nonEmpty)
            throw new IllegalArgumentException(
              s"partitionBy is not supported for row-formatted $other shards " +
                "(partition values live in the path, not the rows) — use parquet/orc/csv")
          // one line per row (the text writer ends each line): the
          // row's bytes minus a trailing newline, as a UTF8String
          val writer = RowFormatter.of(other).writer(df.schema, cfg.nullValue)
          val lines = df.queryExecution.toRdd.mapPartitions { it =>
            val buf = new Utf8Buffer()
            it.map { r =>
              buf.reset()
              writer.write(r, buf)
              val n = if (buf.length > 0 && buf.byteAt(buf.length - 1) == '\n') buf.length - 1
                else buf.length
              InternalRow(UTF8String.fromBytes(buf.slice(n)))
            }
          }
          GraftBridge.internalDataFrame(spark, lines,
            StructType(Seq(StructField("value", StringType))))
            .write.mode("overwrite").text(dest)
      }
    }
  }

  /** Bucketed-table sink (K1c — the storage-LAYOUT half of the 100 TB
    * story, complementing K1b's directory layout): write the archive
    * output hash-bucketed by `bucketCol` into `buckets` buckets (and
    * sorted within each file on the same key), registered in the
    * catalog as `tableName`. Every future equi-join or aggregation on
    * the bucket key against this table is then EXCHANGE-FREE on this
    * side — the scan itself reports hashpartitioning(bucketCol,
    * buckets), so Catalyst plans a sort-merge join with no shuffle of
    * the archived data (BucketedArchiveSpec pins the plan; q37 is the
    * oracle-checked query). At 100 TB that converts the dominant
    * repeated cost of a fact table — reshuffling it under every join —
    * into a one-time layout cost at archive write.
    *
    * Columnar formats only: bucket metadata lives in the catalog +
    * file layout, which row formatters (CSV/JSON/YAML objects) cannot
    * carry. Buckets should be sized like shuffle partitions at the
    * target scale (e.g. ~128-256 MB of rows each); both join sides
    * must agree on the bucket count (or differ by an integer factor
    * with spark.sql.bucketing.coalesceBucketsInJoin.enabled).
    */
  def archiveBucketed(df: DataFrame, tableName: String, bucketCol: String,
      buckets: Int, config: ArchiveConfig => ArchiveConfig = identity): Unit = {
    require(buckets > 0, s"graft: buckets must be positive, got $buckets")
    val cfg = config(base)
    val projected = stage("columns") {
      if (cfg.columns.nonEmpty) df.select(cfg.columns.map(df.col): _*) else df
    }
    val fmt = cfg.format match {
      case Format.Orc => "orc"
      // Format.Csv is ArchiveConfig's untouched default — a caller who
      // never chose a format gets the columnar default here, parquet
      case Format.Parquet | Format.Csv => "parquet"
      case other =>
        // "format" stage: this is a format-negotiation failure, not a
        // column-projection one
        throw new ArchiveException("format", new IllegalArgumentException(
          s"bucketed archive requires a columnar format (parquet/orc), got $other"))
    }
    stage("upload") {
      resetTable(tableName)
      projected.write.format(fmt).mode("overwrite")
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(tableName)
    }
  }

  /** Hive-style PARTITIONED catalog table — the layout that turns a
    * partition-key predicate (static or runtime/DPP) into skipped
    * directories instead of read-and-discard. The catalog-table twin
    * of [[archiveDF]]'s sharded file sink (same `partitionBy` layout,
    * plus catalog metadata so joins can dynamic-partition-prune);
    * complements [[archiveBucketed]] (exchange elimination) and
    * [[archiveClustered]] (row-group skipping) — three layouts, three
    * different scan/shuffle levers. Same DROP + orphan-location
    * handling as the bucketed sink.
    */
  def archivePartitioned(df: DataFrame, tableName: String, partCol: String,
      config: ArchiveConfig => ArchiveConfig = identity): Unit = {
    val cfg = config(base)
    val projected = stage("columns") {
      if (cfg.columns.nonEmpty) df.select(cfg.columns.map(df.col): _*) else df
    }
    val fmt = cfg.format match {
      case Format.Orc => "orc"
      case Format.Parquet | Format.Csv => "parquet"
      case other =>
        throw new ArchiveException("format", new IllegalArgumentException(
          s"partitioned archive requires a columnar format (parquet/orc), got $other"))
    }
    stage("upload") {
      resetTable(tableName)
      projected.write.format(fmt).mode("overwrite")
        .partitionBy(partCol)
        .saveAsTable(tableName)
    }
  }

  /** Z-order-clustered columnar archive — the data-SKIPPING half of
    * storage layout, complementing [[archiveBucketed]]'s co-location
    * half: rows are range-partitioned and sorted by the bit-interleave
    * of two filter columns, so every Parquet row group covers a small
    * RECTANGLE of the (a, b) value space and its min/max footer stats
    * prune 2-D range predicates on EITHER or BOTH columns — a plain
    * sort on `a` alone would leave `b`'s min/max spanning the whole
    * domain in every row group. A Parquet bloom filter on an optional
    * point-lookup column prunes equality probes the sorted stats
    * can't. Row-group size is deliberately small (128 KiB) so skipping
    * granularity is fine; at 100 TB the same layout writes ~128 MB row
    * groups and the pruning arithmetic is identical. The reference's
    * only layout lever is the S3 object key (chiv.go:224–233); this is
    * the columnar-era equivalent. Pruning is evidenced by scan-metric
    * A/B in ZorderSpec and docs/PLANS.md.
    */
  def archiveClustered(df: DataFrame, tableName: String, colA: String,
      colB: String, rangePartitions: Int = 8,
      bloomCol: Option[String] = None): Unit = {
    require(rangePartitions > 0,
      s"graft: rangePartitions must be positive, got $rangePartitions")
    // Range-normalize each key to a 16-bit code BEFORE interleaving:
    // interleaving raw low bits would alias values 2^16 apart into the
    // same Z position and the pruning would collapse once a key domain
    // exceeds 65535. The min/max pair per column is one tiny write-time
    // aggregate (two driver scalars per column — the same class of
    // stat the Parquet footer itself stores); the code is
    // (v−min)·65535 / span with integral arithmetic, monotone per
    // column, so row-group min/max stats stay faithful to the raw
    // values. (span·65535 needs |span| < 2^47 — any realistic key.)
    import org.apache.spark.sql.functions.{lit, max => fmax, min => fmin}
    val st = df.agg(
      fmin(df.col(colA).cast("long")), fmax(df.col(colA).cast("long")),
      fmin(df.col(colB).cast("long")), fmax(df.col(colB).cast("long"))).collect()(0)
    def bounds(i: Int): (Long, Long) =
      if (st.isNullAt(i)) (0L, 1L) // empty input: any constant code
      else (st.getLong(i), math.max(1L, st.getLong(i + 1) - st.getLong(i)))
    val (aMin, aSpan) = bounds(0)
    val (bMin, bSpan) = bounds(2)
    def code(c: org.apache.spark.sql.Column, mn: Long, span: Long) =
      (c.cast("long") - lit(mn)) * lit(65535L) / lit(span)
    val z = Engine.zOrder(
      code(df.col(colA), aMin, aSpan), code(df.col(colB), bMin, bSpan))
    stage("upload") {
      resetTable(tableName)
      val w = df.withColumn("z", z)
        .repartitionByRange(rangePartitions, org.apache.spark.sql.functions.col("z"))
        .sortWithinPartitions("z")
        .write.format("parquet").mode("overwrite")
        .option("parquet.block.size", 128 * 1024)
      bloomCol.foldLeft(w)((w, c) =>
          w.option(s"parquet.bloom.filter.enabled#$c", "true"))
        .saveAsTable(tableName)
    }
  }

  private def stage[T](name: String)(body: => T): T =
    try body catch {
      case e: Exception => throw Engine.tagged(e).getOrElse(new ArchiveException(name, e))
    }

  /** Re-archive of catalog table `tableName` must win over any previous
    * state. DROP handles a live catalog entry (and deletes its managed
    * location); the explicit location delete handles the ORPHAN case —
    * a previous process wrote the table, the in-memory catalog forgot
    * it at exit, and the warehouse directory survived, which makes
    * saveAsTable fail with LOCATION_ALREADY_EXISTS.
    */
  private def resetTable(tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Landing-verification MANIFEST (K1d): after a sharded archive
    * lands, record WHAT landed — every data file with its byte size,
    * plus the total row count read back through the format's own
    * reader — as `_MANIFEST.json` inside the destination. This is the
    * missing half of the sink contract at 100 TB: the committer
    * guarantees atomic task output, but nothing downstream can later
    * prove the directory is still the archive that was written (a
    * lost shard, a half-replaced file, or a stray compaction all read
    * as "some rows" without one). chiv's single-object sink gets this
    * for free from S3 ETags (chiv.go:217–244); a sharded layout needs
    * an explicit manifest — the same role Delta/Iceberg metadata
    * plays, in one self-contained JSON.
    *
    * The row count is ONE scan of the landed data (how any landing is
    * verified anyway); at scale it parallelizes like any read.
    * Supported for the formats Spark can re-read structurally
    * (parquet/orc/csv); row-formatted custom shards record bytes
    * only (rows = -1), because their row framing is format-private.
    * The JSON is hand-rendered with sorted keys and sorted file
    * paths, so identical landings produce byte-identical manifests.
    */
  def writeManifest(dest: String, format: Format = base.format): ArchiveManifest = {
    val m = computeManifest(dest, format)
    val json = renderManifest(m)
    val path = new Path(dest, Engine.ManifestName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest, s".${Engine.ManifestName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // delete-then-rename is NOT an atomic replace on object stores: a
    // concurrent reader can observe the manifest briefly missing
    // between the two calls (HDFS rename-over-existing would close the
    // window, but S3A has no atomic rename at all). Re-manifesting a
    // LIVE-read archive should version the destination instead — the
    // same discipline CatalogMemo.contentKey documents for sources.
    if (fs.exists(path) && !fs.delete(path, false))
      throw new ArchiveException("upload",
        new IllegalStateException(
          s"existing manifest $path could not be removed before replace"))
    if (!fs.rename(tmp, path))
      throw new ArchiveException("upload",
        new IllegalStateException(s"manifest rename $tmp -> $path failed"))
    m
  }

  /** Re-audit a landed archive against its `_MANIFEST.json`: returns
    * the discrepancies (missing manifest, missing/extra/resized data
    * files, row-count drift), empty when the landing is intact. The
    * check any consumer should run before trusting a directory it did
    * not just write — which is exactly why the RECOUNT format comes
    * from the manifest itself, never from the caller's config: the
    * consumer doesn't know how the archive was written, the manifest
    * records it.
    */
  def verifyManifest(dest: String): Seq[String] = {
    val path = new Path(dest, Engine.ManifestName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq(s"manifest missing: $path")
    val in = fs.open(path)
    val recorded = parseManifest(new String(
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close(),
      StandardCharsets.UTF_8))
    val rec = recorded.files.map(f => f.path -> f.bytes).toMap
    val act = listShards(dest).map(f => f.path -> f.bytes).toMap
    val missing = (rec.keySet -- act.keySet).toSeq.sorted.map(p => s"missing file: $p")
    val extra = (act.keySet -- rec.keySet).toSeq.sorted.map(p => s"unexpected file: $p")
    val resized = rec.keySet.intersect(act.keySet).toSeq.sorted
      .filter(p => rec(p) != act(p))
      .map(p => s"size drift: $p recorded ${rec(p)} B, found ${act(p)} B")
    // a tampered shard can make the re-read THROW (e.g. the local
    // filesystem's CRC sidecar detects the corruption before the
    // format does) — an audit reports that as a finding, it never
    // propagates a crash out of a verification call. rows = -1 means
    // the writing format's row framing is private (custom row
    // formatters) — nothing to recount.
    val rows =
      if (recorded.rows == -1L) Seq.empty
      else formatOf(recorded.format) match {
        case None =>
          Seq(s"row drift: manifest format '${recorded.format}' is not recountable here")
        case Some(fmt) =>
          try {
            val n = countRows(dest, fmt)
            if (recorded.rows != n)
              Seq(s"row drift: recorded ${recorded.rows}, found $n")
            else Seq.empty
          } catch {
            // NonFatal only: a corrupt/unreadable shard is an audit
            // finding, but OutOfMemoryError / linkage errors must
            // still propagate — swallowing them would report a dying
            // JVM as benign "row drift"
            case scala.util.control.NonFatal(e) =>
              Seq(s"row drift: recount failed: ${String.valueOf(e.getMessage).take(160)}")
          }
      }
    missing ++ extra ++ resized ++ rows
  }

  /** COMPACT a landed sharded archive's small data files (K1e) — the
    * standing maintenance job of every large lake: streaming/
    * incremental landings accumulate files far below the efficient
    * scan unit, and a 100 TB table of 1 MB files pays ~128× the
    * open/seek/footer overhead per scan of the same bytes in 128 MB
    * files. Per LEAF DIRECTORY (so a hive-`partitionBy` layout is
    * compacted partition-by-partition and the layout — including
    * partition pruning — is preserved exactly): read the directory's
    * data files, `coalesce` to ⌈bytes/targetBytes⌉ outputs (NARROW —
    * concatenation, no shuffle, no re-sort: existing within-file
    * ordering, e.g. a Z-order clustering, survives), stage under a
    * hidden `.compact-*` dir (invisible to readers), verify the
    * staged row count equals the source files' BEFORE touching
    * anything, then swap: staged files RENAME IN first, old files
    * delete after. That order is crash-safe in the direction that
    * matters — a crash mid-swap leaves EXTRA files (transient
    * over-count a [[verifyManifest]] audit flags as `unexpected
    * file`), never lost data; the transient anomaly window is the
    * same non-atomic-directory reality [[writeManifest]] documents,
    * and a LIVE-read archive should be compacted into a versioned
    * destination instead. Correspondingly, a MANIFESTED archive that
    * fails its audit is REFUSED up front: re-running compaction over
    * crash residue would count the old and renamed-in copies as one
    * source, certify the doubled rows, and launder the anomaly into
    * a clean manifest — the audit findings must be repaired (delete
    * the flagged extras) before compaction will touch the directory. Only columnar formats (parquet/orc) are
    * compactable — they re-write losslessly from their own typed
    * schema; row formats' framing is format-private (the
    * [[countRows]] contract). A directory already at or below its
    * target file count is left byte-untouched. If the archive
    * carries a manifest, it is re-written and re-audited after the
    * swap — a compaction that fails its own audit throws rather than
    * reporting success.
    */
  def compactArchive(dest: String, format: Format = base.format,
      targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(targetBytes > 0, s"graft: targetBytes must be positive, got $targetBytes")
    val fmt = format match {
      case Format.Parquet => "parquet"
      case Format.Orc => "orc"
      case other => throw new ArchiveException("format",
        new IllegalArgumentException(
          s"compaction requires a columnar format (parquet/orc), got $other"))
    }
    def read(paths: Seq[Path]): DataFrame =
      spark.read.format(fmt).load(paths.map(_.toString): _*)
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse crash residue (see scaladoc): compacting a directory that
    // fails its own audit would certify doubled rows as clean
    if (fs.exists(new Path(root, Engine.ManifestName))) {
      val pre = verifyManifest(dest)
      if (pre.nonEmpty)
        throw new ArchiveException("upload", new IllegalStateException(
          "refusing to compact an archive that fails its manifest audit " +
            s"(repair the findings first): ${pre.mkString("; ")}"))
    }
    // leaf dirs with visible data files, depth-first
    def leaves(p: Path): Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] = {
      val (dirs, files) = fs.listStatus(p).toSeq.filterNot(st => Engine.hidden(st.getPath))
        .partition(_.isDirectory)
      dirs.flatMap(d => leaves(d.getPath)) ++
        (if (files.nonEmpty) Seq(p -> files) else Seq.empty)
    }
    var before = 0
    var after = 0
    var parts = 0
    var bytes = 0L
    var rows = 0L
    stage("upload") {
      for ((dir, files) <- leaves(root)) {
        val dirBytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (dirBytes + targetBytes - 1) / targetBytes).toInt
        before += files.size
        bytes += dirBytes
        if (nOut >= files.size) after += files.size // already compact
        else {
          val srcPaths = files.map(_.getPath)
          val srcRows = read(srcPaths).count()
          val staging = new Path(dir, s".compact-${java.util.UUID.randomUUID}")
          cleaningStagingOnFailure(staging.toString) {
            read(srcPaths).coalesce(nOut)
              .write.format(fmt).save(staging.toString)
            val staged = fs.listStatus(staging)
              .filter(st => st.isFile && !Engine.hidden(st.getPath)).map(_.getPath)
            val stagedRows = read(staged.toSeq).count()
            if (stagedRows != srcRows)
              throw new IllegalStateException(
                s"compaction row drift in $dir: source $srcRows, staged $stagedRows")
            // swap: new files in FIRST (crash leaves extras, never loss)
            staged.foreach { p =>
              if (!fs.rename(p, new Path(dir, p.getName)))
                throw new IllegalStateException(s"compaction rename failed: $p")
            }
            srcPaths.foreach { p =>
              if (!fs.delete(p, false))
                throw new IllegalStateException(
                  s"compacted source could not be removed: $p")
            }
            after += staged.length
            rows += srcRows
            parts += 1
          }
          fs.delete(staging, true)
        }
      }
    }
    if (fs.exists(new Path(root, Engine.ManifestName))) {
      writeManifest(dest, format)
      val findings = verifyManifest(dest)
      if (findings.nonEmpty)
        throw new ArchiveException("upload", new IllegalStateException(
          s"compaction failed its manifest audit: ${findings.mkString("; ")}"))
    }
    CompactionReport(parts, before, after, bytes, rows)
  }

  /** K1f: RETENTION — expire whole hive partitions of a landed
    * archive, the lifecycle step after landing (K1b/K1d), compaction
    * (K1e), and audit: continuous ingestion without expiry grows
    * without bound, and row-level deletes are the one thing an
    * immutable-object layout can't do cheaply — partition-level drops
    * are the unit of retention every warehouse actually uses (drop
    * `dt=` directories past the policy, never rewrite surviving
    * data). The keep predicate sees each partition directory's VALUE
    * string exactly as the writer encoded it into the `col=value`
    * directory name (simple values — dates, hours, ids — round-trip
    * verbatim; hive percent-escaping of special characters is NOT
    * undone here, the same contract the layout itself exposes).
    *
    * Discipline mirrors [[compactArchive]]: a manifested archive must
    * pass its audit BEFORE expiry (refusing to "retention" away crash
    * residue a repair should look at), the manifest is re-written for
    * the surviving layout afterwards — with the format the OLD
    * manifest recorded, never caller-supplied — and the new manifest
    * must itself audit clean. Expired bytes are counted before
    * deletion so the report states what was reclaimed. A crash
    * between partition deletes and the re-manifest is fail-safe: the
    * audit surfaces the already-deleted shards as findings rather
    * than anything silently passing. No partition directories for
    * `partCol` at all is an error, not a no-op — a typo'd column
    * must not "succeed" as zero expiry (the SPARK_GRAFT_ONLY rule).
    */
  def expireArchive(dest: String, partCol: String,
      keep: String => Boolean): RetentionReport = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifested = fs.exists(new Path(root, Engine.ManifestName))
    val oldFormat: Option[Format] =
      if (!manifested) None
      else {
        val pre = verifyManifest(dest)
        if (pre.nonEmpty)
          throw new ArchiveException("upload", new IllegalStateException(
            "refusing to expire an archive that fails its manifest audit " +
              s"(repair the findings first): ${pre.mkString("; ")}"))
        val in = fs.open(new Path(root, Engine.ManifestName))
        val m = parseManifest(new String(
          try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
          finally in.close(), StandardCharsets.UTF_8))
        val f = formatOf(m.format)
        // a manifested archive whose format we cannot recount
        // (json/yaml/custom) could not have its manifest re-written
        // after the deletes — silently leaving a stale manifest that
        // still lists the expired shards. Refuse up front, the
        // compactArchive philosophy: never certify what can't be
        // re-audited.
        if (f.isEmpty)
          throw new ArchiveException("format", new IllegalArgumentException(
            s"cannot expire a manifested '${m.format}' archive — the " +
              "manifest could not be re-written for the surviving layout; " +
              "remove or re-manifest it in a recountable format first"))
        f
      }
    val prefix = partCol + "="
    // listing inside stage(): a missing/unreadable dest must surface
    // as the stage-prefixed ArchiveException every Engine entry point
    // promises, not a raw FileNotFoundException
    val parts = stage("upload") {
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
    }
    if (parts.isEmpty)
      throw new ArchiveException("upload", new IllegalArgumentException(
        s"no '$prefix<value>' partition directories under $dest — " +
          "wrong partition column, or an unpartitioned archive"))
    var expired = 0
    var kept = 0
    var files = 0
    var bytes = 0L
    stage("upload") {
      def walkBytes(p: Path): (Int, Long) = {
        val sts = fs.listStatus(p).toSeq
        val (dirs, fls) = sts.partition(_.isDirectory)
        val sub = dirs.map(d => walkBytes(d.getPath))
        (fls.size + sub.map(_._1).sum, fls.map(_.getLen).sum + sub.map(_._2).sum)
      }
      for (st <- parts) {
        val value = st.getPath.getName.stripPrefix(prefix)
        if (keep(value)) kept += 1
        else {
          val (nf, nb) = walkBytes(st.getPath)
          if (!fs.delete(st.getPath, true))
            throw new ArchiveException("upload", new IllegalStateException(
              s"expired partition could not be removed: ${st.getPath}"))
          expired += 1
          files += nf
          bytes += nb
        }
      }
    }
    val remaining: Option[Long] = oldFormat.map { f =>
      val m = writeManifest(dest, f)
      val findings = verifyManifest(dest)
      if (findings.nonEmpty)
        throw new ArchiveException("upload", new IllegalStateException(
          s"retention failed its manifest audit: ${findings.mkString("; ")}"))
      m.rows
    }
    RetentionReport(expired, kept, files, bytes, remaining)
  }

  /** REPAIR a manifested archive that fails its audit with EXTRA
    * files only — the one finding class a machine may safely fix:
    * `unexpected file` is exactly what a crash mid-[[compactArchive]]
    * swap leaves (new files renamed in, old sources not yet deleted —
    * the crash-safe direction, extras never loss), and deleting the
    * un-manifested extras restores the audited state byte-for-byte.
    * Every OTHER finding class is REFUSED: a missing or resized shard
    * means data the manifest promised is gone or changed — deleting
    * or re-manifesting over that would LAUNDER loss into a clean
    * audit, so those need a human (or a re-land), never a repair
    * call. Returns the repaired paths; re-audits after, and throws if
    * the archive still fails (repair must not report success it
    * didn't achieve).
    */
  def repairArchive(dest: String): Seq[String] = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val findings = verifyManifest(dest)
    if (findings.isEmpty) return Seq.empty
    val extras = findings.filter(_.startsWith("unexpected file: "))
      .map(_.stripPrefix("unexpected file: "))
    // extras inflate the recount, so a 'row drift' finding rides along
    // with them — it is recomputed by the post-repair audit below,
    // which throws if the drift was NOT the extras' doing. Everything
    // else (missing/resized/manifest missing) is refused outright.
    val nonRepairable = findings.filterNot(f =>
      f.startsWith("unexpected file: ") ||
        (extras.nonEmpty && f.startsWith("row drift:")))
    if (nonRepairable.nonEmpty || extras.isEmpty)
      throw new ArchiveException("upload", new IllegalStateException(
        "refusing to repair: findings other than extra files need a human " +
          s"(deleting/re-manifesting would launder them): ${findings.mkString("; ")}"))
    stage("upload") {
      extras.foreach { rel =>
        val p = new Path(root, rel)
        if (!fs.delete(p, false))
          throw new ArchiveException("upload", new IllegalStateException(
            s"extra file could not be removed: $p"))
      }
    }
    val post = verifyManifest(dest)
    if (post.nonEmpty)
      throw new ArchiveException("upload", new IllegalStateException(
        s"repair did not restore a clean audit: ${post.mkString("; ")}"))
    extras.map(e => s"removed extra: $e")
  }

  /** Reap crash-leaked staging residue under `root` — the periodic
    * policy [[writeSingleObject]]'s scaladoc promises: a hard driver
    * kill (no cleanup path runs) leaks a uniquely-named
    * `<dest>.staging-<uuid>` dir (single-object writes) or
    * `.compact-<uuid>` dir ([[compactArchive]]), the same residual
    * class as Spark's own `_temporary` attempt dirs. Sweep rules:
    *   - only paths matching those two graft-owned staging name
    *     shapes are ever deleted — `_temporary` and every other
    *     hidden or data path is untouched (a foreign writer's
    *     staging is not ours to reap);
    *   - a staging path younger than `graceMs` is SPARED: age is the
    *     newest modification time anywhere inside it (a live archive
    *     is actively creating part files, so its newest touch is
    *     always recent — mtime is the only signal a concurrent
    *     writer leaves on a filesystem);
    *   - findings are returned like [[verifyManifest]] (reaped/spared
    *     per path, surfaced to the caller, never just logged).
    */
  def vacuumStaging(root: String,
      graceMs: Long = Engine.DefaultVacuumGraceMs): Seq[String] = {
    require(graceMs >= 0, s"graft: graceMs must be non-negative, got $graceMs")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def isStaging(name: String): Boolean =
      name.contains(".staging-") || name.startsWith(".compact-")
    def newestTouch(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(st.getPath).toSeq.map(newestTouch)).max
    def sweep(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (isStaging(st.getPath.getName)) {
        val age = now - newestTouch(st)
        if (age < graceMs)
          Seq(s"spared (within grace): ${st.getPath} — newest touch ${age} ms ago")
        else {
          if (!fs.delete(st.getPath, true))
            throw new ArchiveException("upload", new IllegalStateException(
              s"staging residue could not be removed: ${st.getPath}"))
          Seq(s"reaped: ${st.getPath}")
        }
      } else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(sweep)
      else Seq.empty
    stage("upload") { fs.listStatus(rootPath).toSeq.flatMap(sweep) }
  }

  /** The `dt=YYYY-MM-DD`-style common case of [[expireArchive]]:
    * drop partitions whose value sorts strictly below the cutoff.
    * Lexicographic compare is exactly right for the zero-padded
    * date/hour encodings partition layouts use — which is WHY they
    * zero-pad.
    */
  def expireArchiveBefore(dest: String, partCol: String,
      cutoff: String): RetentionReport =
    expireArchive(dest, partCol, _ >= cutoff)

  /** Extension string (as the manifest records it) → recountable
    * format. Custom extensions → None.
    */
  private def formatOf(ext: String): Option[Format] = ext match {
    case "parquet" => Some(Format.Parquet)
    case "orc" => Some(Format.Orc)
    case "csv" => Some(Format.Csv)
    case _ => None
  }

  private def listShards(dest: String): Seq[ShardEntry] = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden names ('_'/'.') are excluded as FILES (committer metadata,
    // the manifest itself) AND as DIRECTORIES (_temporary staging that
    // a straggler task can recreate, .staging-* residue): Spark's own
    // readers skip hidden directories, so recording their contents
    // would guarantee later false "missing file" alarms
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (Engine.hidden(st.getPath)) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    val rootUri = root.toUri.getPath.stripSuffix("/")
    walk(root)
      .map(st => ShardEntry(
        st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"), st.getLen))
      .sortBy(_.path)
  }

  private def countRows(dest: String, format: Format): Long = format match {
    case Format.Parquet => spark.read.parquet(dest).count()
    case Format.Orc => spark.read.orc(dest).count()
    case Format.Csv =>
      // multiLine: quoted embedded newlines (which the sharded CSV
      // writer emits) must count as ONE row, not one per physical
      // line; the audit pays the non-splittable read for an exact
      // count
      spark.read.option("header", "true").option("multiLine", "true")
        .csv(dest).count()
    case _ => -1L // row-formatted shards: framing is format-private
  }

  private def computeManifest(dest: String, format: Format): ArchiveManifest =
    ArchiveManifest(format.extension, listShards(dest), countRows(dest, format))

  private def renderManifest(m: ArchiveManifest): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val fileJson = m.files.map(f =>
      s"""{"bytes": ${f.bytes}, "path": "${esc(f.path)}"}""")
    s"""{"files": [${fileJson.mkString(", ")}], "format": "${esc(m.format)}", "n_files": ${m.files.size}, "rows": ${m.rows}, "total_bytes": ${m.files.map(_.bytes).sum}}"""
  }

  /** Inverse of renderManifest's `esc` — all three escape forms, in
    * one left-to-right scan (a replace() chain would mis-handle
    * sequences like `\\u0041`, un-escaping the backslash first and
    * then fabricating a unicode escape).
    */
  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'u' if i + 5 < s.length =>
          out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
          i += 6
        case c => out += c; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toString
  }

  private def parseManifest(json: String): ArchiveManifest = {
    // the manifest is machine-written by renderManifest with a fixed
    // shape — a targeted parse keeps the engine dependency-free
    val file = """\{"bytes": (\d+), "path": "((?:[^"\\]|\\.)*)"\}""".r
    val files = file.findAllMatchIn(json).map { m =>
      ShardEntry(unescape(m.group(2)), m.group(1).toLong)
    }.toSeq
    val rows = """"rows": (-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    val fmt = """"format": "([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    ArchiveManifest(fmt, files, rows)
  }
}

/** Handle on a cancellable in-flight archive (A2). `cancel()` is the
  * `context.CancelFunc`; `await()` is the blocking `Archive...` call
  * returning the destination key or throwing the stage-prefixed
  * error (first error wins, exactly like chiv's errgroup join,
  * chiv.go:142).
  */
final class ArchiveJob private[engine] (
    spark: SparkSession, val group: String,
    val result: scala.concurrent.Future[String]) {

  /** Cancel every Spark job this archive submitted — running stages
    * are interrupted AND jobs the archive has not yet submitted (the
    * upload leg after the staged write) fail fast, so a cancel
    * between stages cannot half-commit. Idempotent; a no-op after
    * completion.
    */
  def cancel(reason: String = "archive cancelled"): Unit =
    spark.sparkContext.cancelJobGroupAndFutureJobs(group, reason)

  def isCompleted: Boolean = result.isCompleted

  /** Block for the destination key, or throw the ArchiveException. */
  def await(timeout: scala.concurrent.duration.Duration =
      scala.concurrent.duration.Duration.Inf): String =
    scala.concurrent.Await.result(result, timeout)
}

object Engine {
  val ManifestName = "_MANIFEST.json"

  /** The stage-tagged [[ArchiveException]] in `e`'s cause chain, `e`
    * included: a task-side tag (e.g. a formatter failure tagged
    * "download" on the executor) comes back from the job wrapped in a
    * SparkException and keeps its original stage. (If the executor's
    * exception chain failed Java serialization, Spark drops the cause
    * and the error keeps the caller's label — a less precise stage,
    * never a lost error.)
    */
  private def tagged(e: Throwable): Option[ArchiveException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case ae: ArchiveException => ae }

  /** Names starting with '_' or '.' (committer metadata, the manifest,
    * `_temporary` and `.staging-*` residue): Spark's own readers skip
    * them, as files and as directories.
    */
  private def hidden(p: Path): Boolean =
    p.getName.startsWith("_") || p.getName.startsWith(".")

  /** [[Engine.vacuumStaging]]'s default grace window: comfortably
    * longer than any plausible in-flight archive, short enough that a
    * daily sweep clears yesterday's crashes.
    */
  val DefaultVacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Z-order (Morton) key: bit-interleave of the low 16 bits of two
    * long-castable columns — a(i) lands at bit 2i+1, b(i) at bit 2i.
    * Built as a 32-term OR chain of shift/mask Column ops: pure
    * codegen'd projection, evaluated once per row at WRITE time only.
    *
    * This is the PRIMITIVE: inputs must already fit 16 bits and be
    * non-negative — [[Engine.archiveClustered]] feeds it range-
    * normalized (v−min)·65535/span codes, so any key domain maps onto
    * the full 16-bit grid (raw values beyond 2^16 would alias). 65k
    * positions per axis is more than the row-group count at any
    * plausible table size, which is all a CLUSTERING key needs (ties
    * within a row group cost nothing).
    */
  def zOrder(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

}

final case class ShardEntry(path: String, bytes: Long)

/** [[Engine.compactArchive]]'s outcome: leaf directories actually
  * rewritten, file counts across ALL leaf dirs (compacted or not),
  * total data bytes seen, and rows verified through the compacted
  * directories' before/after recount.
  */
final case class CompactionReport(partitionsCompacted: Int,
    filesBefore: Int, filesAfter: Int, bytes: Long, rows: Long)

/** [[Engine.expireArchive]]'s outcome: partitions dropped/surviving,
  * data files and bytes reclaimed, and — for a manifested archive —
  * the surviving row count the re-written manifest records (None when
  * the archive carries no manifest to recount against).
  */
final case class RetentionReport(partitionsExpired: Int,
    partitionsKept: Int, filesExpired: Int, bytesExpired: Long,
    rowsRemaining: Option[Long])

final case class ArchiveManifest(format: String, files: Seq[ShardEntry], rows: Long)


