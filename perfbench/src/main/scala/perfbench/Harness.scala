package perfbench

import graft.SparkEntry
import graft.sources.{GraftCatalog, Versioned}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness for graft, run by perfbench/run.py.
  *
  * Drives graft only through its public entry points — the
  * `SparkEntry.queries` registry over `graft.Tables`, the
  * `graft.sources.Versioned` API, and the SQL front door
  * (`GraftCatalog.register` + `spark.sql`) — as one client in a closed
  * loop. Reads its op plan from `plan=<file>` (written by run.py from
  * the seed), runs the set-up, then timed ops until `seconds` have
  * passed (longer if needed to reach `min_ops`, never past
  * `max_seconds`), and writes every op's latency and result to
  * `out=<dir>`.
  *
  * Usage: Harness workload=<contract|lake|history> data=<dir> plan=<file>
  *   out=<dir> seconds=<s> min_ops=<n> max_seconds=<s> cpus=<n>
  *   trace=<0|1>
  */
object Harness {
  final case class OpRec(i: Int, kind: String, name: String, latS: Double,
      ok: Boolean, err: String, traced: Boolean,
      extra: Seq[(String, Any)])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
      .toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val cpus = opt("cpus")
    val trace = opt("trace") == "1"
    val t0 = System.nanoTime()
    val spark = session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val plan = Files.readAllLines(Paths.get(opt("plan"))).asScala.toSeq
      .filter(_.nonEmpty)
    val run = new Run(spark, opt("data"), out, opt("seconds").toDouble,
      opt("min_ops").toInt, opt("max_seconds").toDouble, tracer)
    val summary = opt("workload") match {
      case "contract" => run.contract(plan)
      case "lake" => run.lake(plan)
      case "history" => run.history(plan)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.foreach(_.writeJsonl(out.resolve("spans.jsonl")))
    val result = Seq(
      "session_start_s" -> sessionS,
      "rss_peak_mb" -> vmHwmMb(),
      "cpus" -> cpus.toInt) ++ summary
    Files.writeString(out.resolve("result.json"), Json.obj(result))
    spark.stop()
  }

  /** The session graft.Bench builds (same confs, same cores). */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

final class Run(spark: SparkSession, dataDir: String, out: Path,
    seconds: Double, minOps: Int, maxSeconds: Double,
    tracer: Option[Tracer]) {
  import Harness.OpRec

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val setupErrors = mutable.ArrayBuffer.empty[String]

  /** The timed loop runs `seconds`, longer if needed to reach `minOps`
    * ops, but never past `maxSeconds`. */
  private def keepGoing(done: Int, startNs: Long): Boolean = {
    val el = (System.nanoTime() - startNs) / 1e9
    el < seconds || (done < minOps && el < maxSeconds)
  }
  private var firstTimedEpochMs = 0L
  private var timedWallS = 0.0

  private def gcMillis(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private def jitMillis(): Long = jit.getTotalCompilationTime
  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One op as a child span of the op span when traced. */
  private def step[T](op: Int, name: String, traced: Boolean)(f: => T): T = {
    val s = System.nanoTime()
    try f finally if (traced) tracer.foreach(_.add(
      Span(op, name, Clock.epochUs(s), Clock.nowUs())))
  }

  /** Times `body` as op `i` and records it. In a traced run every other
    * op is left untraced (by pass or index parity), with the tracer's
    * listeners detached, so the recorder's overhead can be read off the
    * same run. */
  private def timedOp(i: Int, kind: String, name: String, traced: Boolean)
      (body: Boolean => Seq[(String, Any)]): Unit = {
    val sc = spark.sparkContext
    if (traced) tracer.foreach(_.attach(i))
    sc.setJobGroup(s"op-$i", kind, interruptOnCancel = false)
    val (gc0, jit0, cg0, cc0) = (gcMillis(), jitMillis(), compileNs(), compiles())
    val s = System.nanoTime()
    var err = ""
    var extra: Seq[(String, Any)] = Nil
    try extra = body(traced)
    catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
    val e = System.nanoTime()
    sc.clearJobGroup()
    if (traced) tracer.foreach(_.add(Span(i, "op", Clock.epochUs(s),
      Clock.epochUs(e), Seq("gc_ms" -> (gcMillis() - gc0),
        "jit_ms" -> (jitMillis() - jit0),
        "compile_ms" -> (compileNs() - cg0) / 1e6,
        "compiles" -> (compiles() - cc0)))))
    if (traced) tracer.foreach(_.detach())
    ops += OpRec(i, kind, name, (e - s) / 1e9, err.isEmpty, err, traced,
      extra)
  }

  private def housekeeping(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def startTimed(): Long = {
    firstTimedEpochMs = System.currentTimeMillis()
    System.nanoTime()
  }

  private def summary(extra: Seq[(String, Any)]): Seq[(String, Any)] = {
    val recs = ops.map { r =>
      Json.Raw(Json.obj(Seq("i" -> r.i, "kind" -> r.kind, "name" -> r.name,
        "lat_s" -> r.latS, "ok" -> r.ok, "err" -> r.err,
        "traced" -> r.traced) ++ r.extra))
    }.toSeq
    Seq("first_timed_epoch_ms" -> firstTimedEpochMs,
      "timed_wall_s" -> timedWallS, "ops" -> recs) ++ extra
  }

  // ------------------------------------------------------------ contract

  /** Plan lines: `check <name>` (set-up pass into a fresh dump dir for
    * the oracle compare, which is also the shape warm-up), `warm <name>`
    * (an untimed noop pass), then `op <pass> <name>` timed ops. */
  def contract(plan: Seq[String]): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    val registry = (1 to 5).map { _ =>
      val s = System.nanoTime(); SparkEntry.queries; (System.nanoTime() - s) / 1e6
    }.sorted.apply(2)
    val queries = SparkEntry.queries
    val lines = plan.map(_.split(" "))
    val dump = out.resolve("dump")
    lines.foreach {
      case Array("check", name) =>
        try queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(dump.resolve(name).toString)
        catch { case e: Throwable => setupErrors += s"$name: ${e.getMessage}" }
        housekeeping()
      case _ => ()
    }
    val warmStart = System.nanoTime()
    lines.foreach {
      case Array("warm", name) =>
        try queries(name)(spark, dataDir).write.format("noop")
          .mode("overwrite").save()
        catch { case _: Throwable => () }
        housekeeping()
      case _ => ()
    }
    val warmPassS = (System.nanoTime() - warmStart) / 1e9
    val warmupS = (System.nanoTime() - t0) / 1e9
    val timed = lines.collect {
      case Array("op", pass, name) => (pass.toInt, name)
    }
    val start = startTimed()
    var i = 0
    while (i < timed.size && keepGoing(i, start)) {
      val (pass, name) = timed(i)
      val traced = tracer.isDefined && pass % 2 == 0
      timedOp(i, "query", name, traced) { tr =>
        val df = step(i, "build", tr)(queries(name)(spark, dataDir))
        step(i, "execute", tr)(df.write.format("noop").mode("overwrite").save())
        Seq("pass" -> pass)
      }
      housekeeping()
      i += 1
    }
    timedWallS = (System.nanoTime() - start) / 1e9
    summary(Seq("registry_ms" -> registry, "warmup_s" -> warmupS,
      "warm_pass_s" -> warmPassS, "setup_errors" -> setupErrors.toSeq))
  }

  // ---------------------------------------------------------------- lake

  private val baseTsUs = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Rows `[lo, hi)` of a generated batch; `value` is the cents formula
    * the model in perfbench/lake.py reproduces. */
  private def batch(ranges: Seq[(Long, Long)], salt: Long): DataFrame =
    ranges.map { case (lo, hi) => spark.range(lo, hi) }.reduce(_ union _)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(baseTsUs) + col("id") * 1000000L).as("ts"),
        pmod(col("id"), lit(1500L)).as("user_id"),
        element_at(array(Seq("click", "error", "purchase", "signup", "view")
          .map(lit): _*), (pmod(col("id"), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        ((pmod(col("id") * 7919L + lit(salt * 104729L), lit(49999L)) + 1)
          / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(100L)).cast("string"),
          lit("}")).as("props"))

  private def summarize(df: DataFrame): Seq[(String, Any)] = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))).head()
    Seq("rows" -> r.getLong(0), "cents" -> r.getLong(1))
  }

  private def ranges(s: String): Seq[(Long, Long)] = s.split(",").toSeq.map { r =>
    val Array(lo, hi) = r.split("-"); (lo.toLong, hi.toLong)
  }

  private lazy val warehouse = {
    val wh = out.resolve("warehouse")
    GraftCatalog.register(spark, "bench", wh.toString)
    wh
  }
  private var table = ""
  private def path = warehouse.resolve(table).toString
  private val writeVersion = mutable.Map.empty[Int, Int]

  /** Runs lake op `kind` (write number `w`, plan arguments `a`) on the
    * table, as a child span of op `op` when `tr`. */
  private def exec(kind: String, w: Int, a: Array[String], tr: Boolean,
      op: Int): Seq[(String, Any)] = {
    def write(name: String)(f: => Any): Seq[(String, Any)] = {
      step(op, name, tr)(f); Nil
    }
    def read(name: String)(df: => DataFrame): Seq[(String, Any)] =
      step(op, name, tr)(summarize(df))
    kind match {
      case "append" | "replay" =>
        write("versioned.commit")(Versioned.commitTxn(batch(ranges(a(0)),
          a(1).toLong), path, overwrite = false, txn = Some(a(2))))
      case "merge_dv" =>
        write("versioned.merge_dv")(Versioned.mergeDV(spark, path,
          batch(ranges(a(0)), a(1).toLong), Seq("event_id")))
      case "merge" =>
        write("versioned.merge")(Versioned.merge(spark, path,
          batch(ranges(a(0)), a(1).toLong), Seq("event_id")))
      case "delete_dv" =>
        write("versioned.delete_dv")(Versioned.deleteWhereDV(spark, path,
          col("event_id").between(a(0).toLong, a(1).toLong)))
      case "compact" =>
        write("versioned.compact")(Versioned.compact(spark, path, 4))
      case "sql_update" =>
        write("sql.update")(spark.sql(s"UPDATE bench.$table SET value = " +
          s"value + 1.25 WHERE event_id BETWEEN ${a(0)} AND ${a(1)}").collect())
      case "sql_delete" =>
        write("sql.delete")(spark.sql(s"DELETE FROM bench.$table WHERE " +
          s"event_id BETWEEN ${a(0)} AND ${a(1)}").collect())
      case "read_head" =>
        read("versioned.read")(Versioned.read(spark, path))
      case "read_old" =>
        read("versioned.read")(Versioned.read(spark, path,
          Some(writeVersion(w))))
      case "read_changes" =>
        read("versioned.read_changes")(Versioned.readChanges(spark, path,
          writeVersion(w), writeVersion(a(0).toInt))) :+ ("to" -> a(0).toInt)
      case "sql_read" =>
        read("sql.read")(spark.sql(
          s"SELECT value FROM bench.$table VERSION AS OF ${writeVersion(w)}"))
      case other => sys.error(s"unknown lake op $other")
    }
  }

  /** The history table (see perfbench/lake.py): `table <name> <baseRows>`
    * creates it from the first `baseRows` events, then each line is one
    * write. Returns each append's version (= its write number) and
    * latency, from which run.py reads commit cost against version count. */
  def history(plan: Seq[String]): Seq[(String, Any)] = {
    val appendMs = mutable.ArrayBuffer.empty[String]
    plan.map(_.split(" ")).foreach {
      case Array("table", name, baseRows) =>
        table = name
        Versioned.commit(graft.Tables(spark, dataDir, "events")
          .filter(col("event_id") < baseRows.toLong), path, overwrite = false)
      case Array(kind, w, rest @ _*) =>
        val s = System.nanoTime()
        exec(kind, w.toInt, rest.toArray, tr = false, -1)
        if (kind == "append") appendMs += s"[$w,${(System.nanoTime() - s) / 1e6}]"
        housekeeping()
    }
    Seq("head_version" -> Versioned.latestVersion(path),
      "append_ms" -> Json.Raw(appendMs.mkString("[", ",", "]")))
  }

  /** Plan lines (see perfbench/lake.py): `history <name> <writes>` names
    * the copy of the history table run.py left in the warehouse, whose
    * write j is version j; then one op per line, `<kind> <write#>
    * <args...>`, untimed until the `timed` line. */
  def lake(plan: Seq[String]): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    var timedStart = -1L
    var i = 0
    var latestMs = 0.0
    plan.map(_.split(" ")).foreach {
      case Array("history", name, writes) =>
        table = name
        val head = Versioned.latestVersion(path)
        require(head == writes.toInt,
          s"history table $path: head version $head, expected $writes")
        (0 to head).foreach(j => writeVersion(j) = j)
      case Array("timed") =>
        timedStart = startTimed()
      case Array(kind, w, rest @ _*)
          if timedStart < 0 || keepGoing(i, timedStart) =>
        val timed = timedStart >= 0
        if (timed)
          timedOp(i, kind, table, tracer.isDefined && i % 2 == 0)(tr =>
            exec(kind, w.toInt, rest.toArray, tr, i))
        else
          try exec(kind, w.toInt, rest.toArray, tr = false, -1)
          catch { case e: Throwable => setupErrors += s"warm $kind: ${e.getMessage}" }
        // after a write, note the version it left (untimed; the listing
        // latestVersion does is timed on its own as a storage metric)
        val isWrite = !kind.startsWith("read") && kind != "sql_read"
        val noted = if (isWrite) {
          val s = System.nanoTime()
          val ver = Versioned.latestVersion(path)
          if (timed) latestMs += (System.nanoTime() - s) / 1e6
          writeVersion(w.toInt) = ver
          Seq("write" -> w.toInt, "version" -> ver)
        } else Seq("write" -> w.toInt)
        if (timed) {
          ops(ops.size - 1) = ops.last.copy(extra = ops.last.extra ++ noted)
          i += 1
        }
        housekeeping()
      case _ => ()
    }
    timedWallS = (System.nanoTime() - timedStart) / 1e9
    // end-of-run storage accounting (untimed)
    def tree(p: Path): (Long, Long) = {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
    val (bytes, files) = tree(Paths.get(path))
    val plain = out.resolve("plain_head")
    Versioned.read(spark, path).write.parquet(plain.toString)
    val writes = ops.count(_.extra.exists(_._1 == "version"))
    summary(Seq("table_bytes" -> bytes, "table_files" -> files,
      "plain_head_bytes" -> tree(plain)._1,
      "head_version" -> Versioned.latestVersion(path),
      "latest_version_ms" -> latestMs / math.max(1, writes),
      "warmup_s" -> (timedStart - t0) / 1e9,
      "setup_errors" -> setupErrors.toSeq))
  }
}

/** Writes `SparkEntry.oracleSql` as one JSON object (the DuckDB SQL the
  * oracle compare runs per contract row). Usage: OracleDump <file> */
object OracleDump {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), SparkEntry.oracleSql.toSeq
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))
}
