package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, StateRegistry, Verify}
import graft.operators._
import graft.sources.Versioned
import graft.streaming.Streams

/** JVM side of the benchmark: runs one workload in a closed loop with a
  * single client and writes `result.json` (every timed op, the setup
  * phases, the live-heap samples, the ingest digests) plus, when traced,
  * `spans.jsonl`. `perfbench/run.py` generates the inputs, starts this,
  * checks the outputs and turns the records into metrics.
  *
  * Arguments (all `--key value`): workload, data (input tables dir),
  * out (result dir), seconds, trace (0|1), seed, and per workload
  * queries (batch: comma list) or warm_epochs/users/maintain_every
  * (stream_ingest).
  */
object Main {
  /** The module each registered query belongs to (operators.<M>). */
  private val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "Etl" -> Etl.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "Curation" -> Curation.queries,
    "Multimodal" -> Multimodal.queries, "Streams" -> Streams.queries)

  def moduleOf(name: String): String = Modules.find(_._2.contains(name)).map(_._1).getOrElse("?")

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(arg("out"))
    Files.createDirectories(out)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, arg("trace") == "1")
    trace.record("setup.session", -1000 * sessionS, 0.0)
    val heap = new HeapSamples
    val res = scala.collection.mutable.Map[String, Any]("session_s" -> sessionS)
    val h = new Harness(spark, trace, heap, res, arg("seconds").toDouble, arg("seed").toLong)
    arg("workload") match {
      case "stream_ingest" =>
        h.ingest(arg("data"), out, arg("warm_epochs").toInt, arg("users").toLong,
          arg("maintain_every").toInt)
      case _ => h.batch(arg("data"), out, arg("queries").split(",").filter(_.nonEmpty).toSeq)
    }
    res("heap_mb") = heap.mb.toList
    trace.settle()
    if (trace.enabled) trace.write(out.resolve("spans.jsonl").toString)
    Files.writeString(out.resolve("result.json"), Json.obj(res.toMap))
    spark.stop()
  }
}

/** Live heap right after the full collection of each inter-op reset,
  * sampled while `on`. Young collections are left out: what they leave
  * behind depends on when they happen to run, not on what the program
  * keeps. */
final class HeapSamples {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  var on = false
  val mb = ArrayBuffer.empty[Double]

  /** Call right after a full collection. */
  def sample(): Unit = if (on)
    mb += pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
}

final class Harness(spark: SparkSession, trace: Trace, heap: HeapSamples,
    res: scala.collection.mutable.Map[String, Any],
    seconds: Double, seed: Long) {
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val units = ArrayBuffer.empty[Map[String, Any]]
  private var opId = 0

  /** The inter-op reset of graft.Bench, outside every timed op. */
  private def reset(): Unit = trace.span("harness.reset") {
    spark.sharedState.cacheManager.clearCache()
    StateRegistry.sweep(spark)
    Similarity.dropDistributedEvalState()
    System.gc()
    heap.sample()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by the whole JVM so far (every thread). */
  private def cpuS(): Double = os.getProcessCpuTime / 1e9

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Time one op; returns its record (ok = false when it threw). */
  private def op(kind: String, name: String, unit: Int, extra: Map[String, Any] = Map.empty)(
      body: => Unit): Map[String, Any] = {
    val id = opId
    opId += 1
    spark.sparkContext.setJobGroup(s"perfbench-op-$id", name)
    val t0 = System.nanoTime()
    var err: String = null
    var cached = 0L
    trace.span("op", Map("op" -> id, "kind" -> kind, "name" -> name, "unit" -> unit,
      "module" -> extra.getOrElse("module", ""), "cached_bytes" -> cached)) {
      try body
      catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] $kind $name failed: $err")
      }
      if (trace.enabled && trace.active) cached = cachedBytes()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    val rec = Map[String, Any]("id" -> id, "kind" -> kind, "name" -> name, "unit" -> unit,
      "wall_s" -> wall, "ok" -> (err == null), "error" -> err) ++ extra
    ops += rec
    rec
  }

  /** Run units until their summed wall time reaches `seconds` (at least
    * `minUnits`). A traced run leaves unit 0 untraced and out of the
    * overhead comparison (it still warms the JIT), then traces 1, 4, 5,
    * 8, ... and not 2, 3, 6, 7, ...: the two sets sit symmetrically in a
    * run whose units still speed up, so their medians give the tracing
    * overhead. Returns the summed unit wall seconds. */
  private def timedLoop(minUnits: Int, more: Int => Boolean)(unit: Int => Unit): Double = {
    res("first_op_epoch_ms") = System.currentTimeMillis()
    heap.on = true
    var spent = 0.0
    var u = 0
    while ((u < minUnits || spent < seconds) && more(u)) {
      trace.settle()
      trace.active = trace.enabled && u > 0 && (u % 4 == 1 || u % 4 == 0)
      val s = System.nanoTime()
      val c = cpuS()
      trace.span("unit", Map("unit" -> u)) { unit(u) }
      val wall = (System.nanoTime() - s) / 1e9
      units += Map("unit" -> u, "wall_s" -> wall, "cpu_s" -> (cpuS() - c), "traced" -> trace.active)
      spent += wall
      u += 1
    }
    trace.settle()
    heap.on = false
    trace.active = trace.enabled
    spent
  }

  private def finish(timed: Double): Unit = {
    res("timed_wall_s") = timed
    res("ops") = ops.toList
    res("units") = units.toList
  }

  // ------------------------------------------------------------------ batch

  def batch(data: String, out: Path, names: Seq[String]): Unit = {
    val registry = SparkEntry.queries
    val fns = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    // the warm pass is the correctness dump: every query's result as
    // parquet plus the oracle SQL, checked by run.py after the run
    val w0 = System.nanoTime()
    trace.span("setup.warm_pass") {
      Verify.run(spark, data, out.resolve("verify").toString, Some(names.toSet))
      reset()
    }
    res("warm_pass_s") = (System.nanoTime() - w0) / 1e9
    val timed = timedLoop(minUnits = if (trace.enabled) 5 else 1, _ => true) { pass =>
      Similarity.resetEvalCaches()
      spark.sharedState.cacheManager.clearCache()
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(fns)
      order.foreach { case (name, fn) =>
        op("query", name, pass, Map("module" -> Main.moduleOf(name))) {
          val df = trace.span("op.build")(fn(spark, data))
          trace.span("op.exec")(df.write.format("noop").mode("overwrite").save())
        }
        reset()
      }
    }
    finish(timed)
  }

  // ----------------------------------------------------------------- ingest

  private val EventTypes = Seq("click", "signup", "error", "view", "purchase")
  private val TableCols = Seq("user_id", "event_type", "seq", "ts_us", "cents")

  /** sha256 of the rows rendered `|`-joined, sorted, one per line
    * (oracle.digest renders DuckDB's rows the same way). */
  private def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def treeBytes(p: Path): (Long, Set[String]) =
    if (!Files.exists(p)) (0L, Set.empty)
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p)) { st =>
        val files = st.iterator().asScala.filter(Files.isRegularFile(_)).toList
        (files.map(Files.size).sum, files.map(f => p.relativize(f).toString).toSet)
      }
    }

  def ingest(data: String, out: Path, warmEpochs: Int, users: Long, maintainEvery: Int): Unit = {
    import spark.implicits._
    val staged = Files.list(Paths.get(data)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    val work = out.resolve("ingest")
    val in = work.resolve("in")
    Files.createDirectories(in)
    val table = work.resolve("table").toString
    val sessions = work.resolve("sessions").toString
    val schema = spark.read.parquet(staged.head.toString).schema
    def source(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false").parquet(in.toString)
    val versionEpoch = scala.collection.mutable.Map.empty[Int, Int]
    val reads = ArrayBuffer.empty[Map[String, Any]]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var applied = 0
    var rows = 0L

    def epoch(e: Int, unit: Int): Unit = {
      val src = staged(e)
      val n = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(src.toString), spark.sparkContext.hadoopConfiguration))
        try r.getRecordCount finally r.close()
      }
      op("epoch", s"epoch$e", unit, Map("rows" -> n)) {
        trace.span("land") {
          val dst = in.resolve(src.getFileName)
          Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
          Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        }
        trace.span("sink.cdc") {
          Streams.cdcSink(source(), table, "user_id", "event_type", "op",
            work.resolve("ckpt_cdc").toString).awaitTermination()
        }
        trace.span("sink.session") {
          val evs = source().select(col("user_id"), col("seq").as("event_id"),
            col("ts_us").as("tsMicros")).as[Streams.Ev]
          Streams.sinkToParquet(Streams.sessionizeStateful(evs).toDF(), sessions,
            work.resolve("ckpt_session").toString).awaitTermination()
        }
      }
      versionEpoch(Versioned.latestVersion(spark, table).get) = e
      applied = e + 1
      rows += n
    }

    def read(kind: String, e: Int, unit: Int): Unit = {
      val rnd = new scala.util.Random(seed * 1000003L + e)
      val versions = Versioned.versions(spark, table)
      val (params, frame, stateEpoch) = kind match {
        case "partition" =>
          val t = EventTypes(e % EventTypes.size)
          (Map("event_type" -> t),
            () => Versioned.snapshot(spark, table).filter(col("event_type") === t)
              .select(TableCols.map(col): _*), e)
        case "range" =>
          val width = math.max(1L, users / 20)
          val lo = (rnd.nextDouble() * (users - width)).toLong
          (Map("lo" -> lo, "hi" -> (lo + width - 1)),
            () => Versioned.snapshotRange(spark, table, "user_id", lo, lo + width - 1)
              .select(TableCols.map(col): _*), e)
        case _ =>
          val v = versions(math.max(0, versions.size - 4))
          (Map("version" -> v),
            () => Versioned.snapshot(spark, table, v).groupBy(col("event_type"))
              .agg(count(lit(1)), sum(col("cents")), max(col("seq"))), versionEpoch(v))
      }
      // live files of the snapshot read, for the prune ratio
      val live = if (trace.enabled && trace.active)
        Versioned.manifestFiles(spark, table, params.get("version") match {
          case Some(v: Int) => v
          case _ => versions.last
        }).size else 0
      var got: Array[Row] = Array.empty
      val rec = op("read", s"read.$kind", unit, params + ("epoch" -> e)) {
        got = trace.span(s"read.$kind", Map("live_files" -> live))(frame().collect())
      }
      val id = s"$kind@$e"
      if (rec("ok") == true) digests(id) = digest(got)
      reads += Map("id" -> id, "kind" -> kind, "state_epoch" -> stateEpoch) ++ params
    }

    def dataFiles(): Set[String] =
      treeBytes(Paths.get(table))._2.filter(f => f.endsWith(".parquet") && !f.startsWith("_graft_log"))

    /** Table-state counters at the end of a traced round: files and
      * bytes its commits and compaction wrote (`before` = the data files
      * at the round's start), live files, manifest size, directory and
      * latest-snapshot bytes. */
    def stateAttrs(e: Int, before: Set[String], epochBytes: Long): Unit = {
      val v = Versioned.latestVersion(spark, table).get
      val live = Versioned.manifestFiles(spark, table, v)
      val root = Paths.get(table)
      val fresh = dataFiles() -- before
      val now = trace.now
      trace.record("ingest.state", now, now, Map("epoch" -> e,
        "live_files" -> live.size,
        "manifest_bytes" -> Files.size(root.resolve(f"_graft_log/v$v%08d.manifest")),
        "snapshot_bytes" -> live.map(f => Files.size(root.resolve(f))).sum,
        "dir_bytes" -> treeBytes(root)._1, "files_written" -> fresh.size,
        "bytes_written" -> fresh.toSeq.map(f => Files.size(root.resolve(f))).sum,
        "change_bytes" -> epochBytes))
    }

    val w0 = System.nanoTime()
    trace.span("setup.warm_pass") {
      (0 until warmEpochs).foreach { e => epoch(e, -1); reset() }
    }
    res("warm_pass_s") = (System.nanoTime() - w0) / 1e9
    ops.clear()
    rows = 0L
    // A unit is one round: `maintainEvery` epoch cycles (epoch, then the
    // three reads), then compact + vacuum, so every timed unit pays for
    // maintenance in the same share. The reset follows every op.
    val timed = timedLoop(minUnits = if (trace.enabled) 5 else 1,
        u => warmEpochs + (u + 1) * maintainEvery <= staged.length) { u =>
      val first = warmEpochs + u * maintainEvery
      val last = first + maintainEvery - 1
      val traced = trace.enabled && trace.active
      val before = if (traced) dataFiles() else Set.empty[String]
      val epochBytes = (first to last).map(e => Files.size(staged(e))).sum
      (first to last).foreach { e =>
        epoch(e, u)
        reset()
        Seq("partition", "range", "timetravel").foreach { k => read(k, e, u); reset() }
      }
      op("maintain", "maintain", u) {
        trace.span("maintain.compact")(Versioned.compact(spark, table, "event_type"))
        versionEpoch(Versioned.latestVersion(spark, table).get) = last
        trace.span("maintain.vacuum")(Versioned.vacuum(spark, table, keepVersions = 8))
      }
      reset()
      if (traced) stateAttrs(last, before, epochBytes)
    }
    finish(timed)
    res("rows_committed") = rows
    res("epochs_applied") = applied
    val last = applied - 1
    digests(s"final_table@$last") =
      digest(Versioned.snapshot(spark, table).select(TableCols.map(col): _*).collect())
    digests(s"final_sessions@$last") = digest(spark.read.parquet(sessions)
      .groupBy(col("user_id")).agg(max(col("n_sessions")), max(col("n_events"))).collect())
    res("reads") = reads.toList
    res("digests") = digests.toMap
  }
}
