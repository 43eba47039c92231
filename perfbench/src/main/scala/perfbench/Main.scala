package perfbench

import graft.GraftSession
import graft.functions.{ChCompat, ChSqlRewrite}
import graft.ingest.{EventsWriter, GhEventParser}
import graft.serve.HttpServe
import java.io.File
import java.lang.management.ManagementFactory
import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload in this JVM and writes `result.json` to the work
  * directory: operation times, the untimed check inputs (table, ledger,
  * captured results) and, when traced, the per-layer figures.
  * `run.py` turns it into the benchmark's result line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   <launchEpochMs> <queries.json>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: File, launchMs: Long, queries: File)

  // Input sizes per workload; the README records what they add up to.
  val backfillPerHour = 1000
  val mergeFillHours = 8
  val mergeFillPerHour = 6000
  val mergePerHour = 1000
  val tableMonths = 3
  val tableHoursPerMonth = 8
  val tablePerHour = 2000
  val serveHoursPerMonth = 4
  val servePerHour = 1500
  // serve_http warm-up: direct calls from several threads, then both clients
  val warmupDirectSeconds = 10.0
  val warmupHttpSeconds = 9.0

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      new File(args(4)), args(5).toLong, new File(args(6)))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.getOrCreate(cores.toString)
    Log(s"session ready ${(System.currentTimeMillis() - o.launchMs) / 1000.0}s after launch")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    if (o.traced) tracer.install()
    val bench = new Bench(spark, o, tracer)
    val out = o.workload match {
      case "backfill" => bench.backfill()
      case "hourly_merge" => bench.hourlyMerge()
      case "query_mix" => bench.queryMix()
      case "serve_http" => bench.serveHttp()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val f = new File(o.work, "result.json")
    java.nio.file.Files.writeString(f.toPath, Json(out))
    spark.stop()
  }
}

/** Progress lines for the JVM log (not the result). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case r: Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

final class Bench(spark: SparkSession, o: Main.Opts, tracer: Tracer) {
  import Main._
  import Tracer.Span

  private val cores = Runtime.getRuntime.availableProcessors()
  private val inputs = new File(o.work, "inputs")
  private val ledger = mutable.HashMap.empty[Gen.Key, Long]
  private val opMs = mutable.ArrayBuffer.empty[Double]      // untraced ops
  private val tracedMs = mutable.ArrayBuffer.empty[Double]  // traced ops
  private var attempted = 0
  private var failed = 0
  private var firstOpMs = 0L
  private var windowNs = 0L
  private var gcAtStart = (0L, 0L)

  private def gen(hours: Seq[Gen.Hour], perHour: Int): IndexedSeq[Gen.HourFile] =
    Gen.writeHours(inputs, hours, perHour, o.seed, cores)

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  private def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One timed operation, with untimed steps just before and after it. */
  private final case class Op(run: () => Unit, before: () => Unit = () => (),
      after: () => Unit = () => ())

  /** Runs whole rounds until `seconds` of timed work have passed: the
    * untimed work between ops (building a round's inputs, the before/after
    * steps) counts neither toward the window nor toward `windowNs`. A round
    * is traced when `traceRound` says so (only in a traced run); each op's
    * time lands in `opMs` or `tracedMs`. An op that throws counts as failed.
    */
  private def window(traceRound: Int => Boolean)(round: Int => Seq[Op]): Unit = {
    Log("set-up done, window starts")
    firstOpMs = System.currentTimeMillis()
    gcAtStart = gcTotals
    val start = System.nanoTime()
    val budget = (o.seconds * 1e9).toLong
    var untimed = 0L
    def offClock(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; untimed += System.nanoTime() - t0
    }
    var r = 0
    // a traced run needs at least one untraced and one traced round
    while (System.nanoTime() - start - untimed < budget || (o.traced && r < 2)) {
      val traced = o.traced && traceRound(r)
      var ops: Seq[Op] = Nil
      offClock { ops = round(r) }
      ops.foreach { op =>
        attempted += 1
        offClock(op.before())
        // listener events are handled asynchronously: let those of untimed
        // work land before tracing starts, and the op's own before it stops
        if (traced) offClock(tracer.drain())
        tracer.on = traced
        val t0 = System.nanoTime()
        val ok = try { tracer.span("op")(op.run()); true } catch {
          case e: Exception =>
            System.err.println(s"op failed: $e"); failed += 1; false
        }
        val t1 = System.nanoTime()
        if (traced) offClock(tracer.drain())
        tracer.on = false
        if (ok) {
          (if (traced) tracedMs else opMs) += (t1 - t0) / 1e6
          offClock(op.after())
        }
      }
      r += 1
    }
    windowNs = System.nanoTime() - start - untimed
  }

  private def alternate(r: Int): Boolean = r % 2 == 1

  private def common(extra: (String, Any)*): Map[String, Any] = {
    val ledgerFile = new File(o.work, "ledger.csv")
    Gen.writeLedger(ledgerFile, ledger)
    Map("workload" -> o.workload, "attempted" -> attempted, "failed" -> failed,
      "setup_s" -> (firstOpMs - o.launchMs) / 1000.0,
      "op_ms" -> opMs.toSeq,
      "window_s" -> windowNs / 1e9, "ledger" -> ledgerFile.getAbsolutePath) ++ extra
  }

  // ------------------------------------------------------------------
  // backfill: one ingestHours call per op, each into a fresh table
  // ------------------------------------------------------------------
  def backfill(): Map[String, Any] = {
    val day = LocalDate.of(2023, 3, 7)
    val files = gen((0 until 24).map(h => Gen.Hour(day, h, h)), backfillPerHour)
    Gen.fold(ledger, files)
    val paths = files.map(_.path)
    var n = 0
    def fresh(): String = { n += 1; new File(o.work, s"backfill_$n").getAbsolutePath }
    def ingest(p: String): Unit = tracer.span("writer")(EventsWriter.ingestHours(spark, paths, p))
    (1 to 2).foreach { _ => val p = fresh(); ingest(p); rm(p) } // warm-up
    var last = ""
    window(alternate) { _ =>
      if (last.nonEmpty) rm(last) // untimed: between ops
      val p = fresh()
      last = p
      Seq(Op(() => ingest(p)))
    }
    val heap = retainedHeapMb()
    common("retained_heap_mb" -> heap, "table" -> last,
      "trace" -> layers(paths, newRowsPerOp = ledger.size.toDouble))
  }

  // ------------------------------------------------------------------
  // hourly_merge: the hourly cron into one month, with a re-delivery
  // ------------------------------------------------------------------
  def hourlyMerge(): Map[String, Any] = {
    def hour(i: Int) = Gen.Hour(LocalDate.of(2023, 5, 1 + i / 24), i % 24, i)
    val fill = gen((0 until mergeFillHours).map(hour), mergeFillPerHour)
    val table = new File(o.work, "month").getAbsolutePath
    EventsWriter.ingestHours(spark, fill.map(_.path), table)
    Gen.fold(ledger, fill)
    val merged = mutable.ArrayBuffer.empty[Gen.HourFile] // hours merged one by one
    var next = mergeFillHours
    var tracedNewRows = 0L
    val hashes = mutable.ArrayBuffer.empty[(String, String)]
    // Merges one hour: a new one, or a re-delivery of the last one merged,
    // around which the table's content hash is taken. The ledger is folded
    // after the op, off the clock.
    def mergeOne(redeliver: Boolean, traced: Boolean): Op = {
      val f =
        if (redeliver) merged.last
        else { val h = gen(Seq(hour(next)), mergePerHour).head; next += 1; h }
      var hashBefore = ""
      Op(() => tracer.span("writer")(EventsWriter.ingestHours(spark, Seq(f.path), table)),
        before = () => if (redeliver) hashBefore = contentHash(table),
        after = () => {
          val before = ledger.size
          Gen.fold(ledger, Seq(f))
          if (traced) tracedNewRows += ledger.size - before
          if (redeliver) hashes += ((hashBefore, contentHash(table))) else merged += f
        })
    }
    def runOp(op: Op): Unit = { op.before(); op.run(); op.after() }
    // warm-up: one whole round
    runOp(mergeOne(false, false)); runOp(mergeOne(false, false)); runOp(mergeOne(true, false))
    // a round: two new hours, then the last hour of the round before
    // delivered again
    window(alternate) { r =>
      val t = o.traced && alternate(r)
      Seq(mergeOne(false, t), mergeOne(false, t), mergeOne(true, t))
    }
    val heap = retainedHeapMb()
    val tracedOps = tracedMs.size max 1
    common("retained_heap_mb" -> heap, "table" -> table,
      // idempotence: re-importing an hour already merged changes nothing
      "idempotent" -> (hashes.nonEmpty && hashes.forall(h => h._1 == h._2)),
      "content_hash" -> hashes.map(h => Seq(h._1, h._2)),
      "trace" -> layers(Seq(merged.last.path), tracedNewRows.toDouble / tracedOps))
  }

  private def contentHash(table: String): String = {
    val t = spark.read.parquet(table)
    val r = t.select(count(lit(1)),
      sum(xxhash64(t.columns.map(col): _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  // ------------------------------------------------------------------
  // query_mix and serve_http share a three-month table built at set-up
  // ------------------------------------------------------------------
  private val months = (1 to tableMonths).map(m => LocalDate.of(2023, m, 1))
  private def params: Map[String, String] = Map(
    "m1" -> "202302", "lo" -> "2023-02-01", "hi" -> "2023-04-01")
  private def fill(sql: String, p: Map[String, String]): String =
    p.foldLeft(sql) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  private def buildTable(hoursPerMonth: Int, perHour: Int): (String, Seq[String]) = {
    val hours = for {
      (m, mi) <- months.zipWithIndex
      j <- 0 until hoursPerMonth
    } yield Gen.Hour(m.plusDays(j * 3L), (j * 5) % 24, mi * hoursPerMonth + j)
    val files = gen(hours, perHour)
    Gen.fold(ledger, files)
    val table = new File(o.work, "events").getAbsolutePath
    EventsWriter.ingestHours(spark, files.map(_.path), table)
    spark.read.parquet(table).createOrReplaceTempView("events")
    (table, files.map(_.path))
  }

  private lazy val queryDefs =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(o.queries)

  /** Reads every row and column, as a client would. */
  private def consume(rows: Array[Row]): Long = {
    var h = 0L
    rows.foreach { r =>
      var i = 0
      while (i < r.length) { h = h * 31 + (if (r.isNullAt(i)) 0 else r.get(i).hashCode); i += 1 }
    }
    h
  }

  def queryMix(): Map[String, Any] = {
    val (table, files) = buildTable(tableHoursPerMonth, tablePerHour)
    val qs = queryDefs.get("query_mix").elements().asScala.toIndexedSeq.map { q =>
      (q.get("name").asText, fill(q.get("ch").asText, params), fill(q.get("duckdb").asText, params))
    }
    val last = mutable.LinkedHashMap.empty[String, Array[Row]]
    def run(name: String, sql: String): Unit = {
      val rows =
        if (!tracer.on) ChCompat.sql(spark, sql).collect()
        else {
          val rewritten = tracer.span("rewrite")(ChSqlRewrite(sql))
          val df = tracer.span("plan.analyze")(spark.sql(rewritten))
          tracer.span("plan.optimize")(df.queryExecution.optimizedPlan)
          tracer.span("plan.physical")(df.queryExecution.executedPlan)
          tracer.span("exec")(df.collect())
        }
      consume(rows)
      last(name) = rows
    }
    (1 to 2).foreach(_ => qs.foreach { case (n, s, _) => run(n, s) }) // warm-up
    window(alternate)(_ => qs.map { case (n, s, _) => Op(() => run(n, s)) })
    val heap = retainedHeapMb()
    common("retained_heap_mb" -> heap, "table" -> table,
      "queries" -> qs.map { case (n, _, d) => Map("name" -> n, "duckdb" -> d, "rows" -> last(n)) },
      "trace" -> layers(files, 0))
  }

  def serveHttp(): Map[String, Any] = {
    val (table, files) = buildTable(serveHoursPerMonth, servePerHour)
    val server = new HttpServe(spark, 0)
    server.start()
    try {
      val lookupDef = queryDefs.get("serve_lookup")
      val rnd = new scala.util.Random(o.seed)
      val lookups = (0 until 4).map { i =>
        val p = Map("repo" -> Gen.repoId(20 + rnd.nextInt(380)).toString,
          "month" -> s"20230${1 + i % tableMonths}")
        (fill(lookupDef.get("ch").asText, p), fill(lookupDef.get("duckdb").asText, p))
      }
      // the SQL HttpServe runs for GET /query/record_count?table=events
      val recordCountSql = "SELECT COUNT(*) AS count FROM events"
      // (kind, request body or null for GET, path, duckdb oracle)
      val requests: IndexedSeq[(String, String, String, String)] =
        lookups.take(2).map { case (c, d) => ("lookup", c, "/query", d) } ++
          Seq(("record_count", null, "/query/record_count?table=events", recordCountSql)) ++
          lookups.drop(2).map { case (c, d) => ("lookup", c, "/query", d) } ++
          Seq(("db_schema", null, "/query/db_schema", null))
      val base = s"http://127.0.0.1:${server.boundPort}"
      val last = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val serverMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val overheadMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val respBytes = new java.util.concurrent.atomic.LongAdder
      val rewriteNs = new java.util.concurrent.atomic.LongAdder
      val timeRe = "\"time_ms\":([-0-9.Ee]+)".r
      val lock = new Object
      @volatile var tracedHalf = false

      def call(i: Int): Unit = {
        val (_, body, path, _) = requests(i)
        val t0 = System.nanoTime()
        val resp = Http.send(base + path, Option(body))
        val rtMs = (System.nanoTime() - t0) / 1e6
        if (resp._1 != 200) throw new IllegalStateException(s"HTTP ${resp._1}: ${resp._2.take(200)}")
        last.put(i, resp._2)
        val server = timeRe.findFirstMatchIn(resp._2).map(_.group(1).toDouble).getOrElse(0.0)
        lock.synchronized {
          if (tracedHalf) {
            serverMs.add(server); overheadMs.add(rtMs - server)
            respBytes.add(resp._2.getBytes("UTF-8").length)
            // the server's rewrite of this request, timed beside it
            val sql = Option(body).getOrElse(if (server > 0) recordCountSql else null)
            if (sql != null) {
              val r0 = System.nanoTime(); ChSqlRewrite(sql); rewriteNs.add(System.nanoTime() - r0)
            }
          }
          attempted += 1
          (if (tracedHalf) tracedMs else opMs) += rtMs
        }
      }
      def client(deadline: Long): Unit =
        while (System.nanoTime() < deadline)
          requests.indices.foreach { i =>
            try call(i) catch {
              case e: Exception =>
                System.err.println(s"request failed: $e")
                lock.synchronized { attempted += 1; failed += 1 }
            }
          }
      def clients(seconds: Double): Unit = {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        val ts = (0 until 2).map(_ => new Thread(() => client(deadline)))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      // warm-up, untimed: the request SQL straight through the same calls
      // the server makes, from several threads, then both HTTP clients
      val sqls = requests.map(_._2).filter(_ != null) :+ recordCountSql
      val warmEnd = System.nanoTime() + (warmupDirectSeconds * 1e9).toLong
      val warmers = (0 until cores.max(2) - 1).map(t => new Thread(() => {
        var i = t
        while (System.nanoTime() < warmEnd) {
          val it = ChCompat.sql(spark, sqls(i % sqls.size)).toJSON.toLocalIterator()
          while (it.hasNext) it.next()
          i += 1
        }
      }))
      warmers.foreach(_.start()); warmers.foreach(_.join())
      clients(warmupHttpSeconds)
      lock.synchronized { opMs.clear(); attempted = 0; failed = 0 }
      Log("set-up done, window starts")
      firstOpMs = System.currentTimeMillis()
      gcAtStart = gcTotals
      val start = System.nanoTime()
      if (o.traced) {
        clients(o.seconds / 2)
        tracer.drain()
        tracedHalf = true; tracer.on = true
        clients(o.seconds / 2)
        tracer.drain()
        tracer.on = false
      } else clients(o.seconds)
      windowNs = System.nanoTime() - start
      val heap = retainedHeapMb()
      val n = serverMs.size max 1
      val serve = Map(
        "serve.server_ms" -> serverMs.asScala.sum / n,
        "serve.overhead_ms" -> overheadMs.asScala.sum / n,
        "serve.response_bytes" -> respBytes.sum.toDouble / n,
        "rewrite.busy_ms" -> rewriteNs.sum / 1e6 / n)
      common("retained_heap_mb" -> heap, "table" -> table,
        "responses" -> requests.indices.map { i =>
          Map("kind" -> requests(i)._1, "duckdb" -> requests(i)._4, "body" -> last.get(i))
        },
        "trace" -> (if (o.traced) layers(files, 0, Some(serve)) else Map.empty))
    } finally server.stop()
  }

  private def rm(p: String): Unit = {
    def del(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(p))
  }

  // ------------------------------------------------------------------
  // per-layer figures of a traced run
  // ------------------------------------------------------------------

  /** Per-layer metrics: span self times per traced op, listener counters
    * per traced op, and a parse-only pass over `parseFiles`.
    */
  private def layers(parseFiles: Seq[String], newRowsPerOp: Double,
      serve: Option[Map[String, Double]] = None): Map[String, Any] = {
    if (!o.traced) return Map.empty
    val gc = gcTotals
    tracer.drain()
    val window = tracer.c.snapshot
    val spans = tracer.allSpans
    val nOps = tracedMs.size.max(1).toDouble
    val opNs = tracedMs.sum * 1e6
    val self = Tracer.selfTimes(spans, "op")
    def selfMs(p: Span => Boolean): Double = self.filter(x => p(x._1)).map(_._2).sum / 1e6 / nOps
    val jobsNs = {
      val js = spans.filter(_.name == "exec.job")
      Tracer.covered(js.map(s => (s.t0, s.t1)), Long.MinValue, Long.MaxValue)
    }
    // the parse-only pass: parser into the noop sink
    tracer.on = true
    val p0 = tracer.c.snapshot
    val pt0 = System.nanoTime()
    tracer.span("parser")(GhEventParser.ingest(spark, parseFiles)
      .write.format("noop").mode("overwrite").save())
    val parseMs = (System.nanoTime() - pt0) / 1e6
    tracer.drain()
    tracer.on = false
    val p1 = tracer.c.snapshot
    val rowsOut = GhEventParser.ingest(spark, parseFiles).count()
    def d(k: String): Double = (p1(k) - p0(k)).toDouble
    def w(k: String): Double = window(k) / nOps
    val ingest = o.workload == "backfill" || o.workload == "hourly_merge"
    val execBusy = serve.map(_ => jobsNs / 1e6 / nOps)
      .getOrElse(selfMs(s => s.name.startsWith("exec")))
    val plan = serve match {
      case Some(_) => Seq(w("tracker_analyze_ms"), w("tracker_optimize_ms"), w("tracker_plan_ms"))
      case None => Seq("plan.analyze", "plan.optimize", "plan.physical").map(n => selfMs(_.name == n))
    }
    val sv = serve.getOrElse(Map.empty[String, Double])
    val serveSelf = sv.get("serve.server_ms")
      .map(s => (s - plan.sum - execBusy).max(0.0) + sv("serve.overhead_ms"))
    val layerSum = serveSelf.map(_ + plan.sum + execBusy).getOrElse(
      self.filter(_._1.name != "op").map(_._2).sum / 1e6 / nOps)
    val opMean = opNs / 1e6 / nOps
    val untracedP50 = Stats.median(opMs.toSeq)
    Map(
      "parser.busy_ms" -> parseMs,
      "parser.task_cpu_ms" -> d("task_cpu_ns") / 1e6,
      "parser.rows_in" -> d("input_records"),
      "parser.rows_out" -> rowsOut.toDouble,
      "writer.busy_ms" -> selfMs(_.name == "writer"),
      "writer.rows_read_back" -> (if (ingest) w("parquet_rows") else 0.0),
      "writer.rows_written" -> (if (ingest) w("rows_written") else 0.0),
      "writer.bytes_written" -> (if (ingest) w("bytes_written") else 0.0),
      "writer.files_written" -> (if (ingest) w("files_written") else 0.0),
      "writer.shuffle_bytes" -> (if (ingest) w("shuffle_write_bytes") else 0.0),
      "writer.jobs" -> (if (ingest) w("jobs") else 0.0),
      "writer.rewrite_ratio" -> (if (ingest && newRowsPerOp > 0) w("rows_written") / newRowsPerOp else 0.0),
      "rewrite.busy_ms" -> sv.getOrElse("rewrite.busy_ms", selfMs(_.name == "rewrite")),
      "plan.analyze_ms" -> plan(0),
      "plan.optimize_ms" -> plan(1),
      "plan.physical_ms" -> plan(2),
      "exec.busy_ms" -> execBusy,
      "exec.jobs" -> w("jobs"),
      "exec.stages" -> w("stages"),
      "exec.tasks" -> w("tasks"),
      "exec.task_run_ms" -> w("task_run_ms"),
      "exec.task_cpu_ms" -> w("task_cpu_ns") / 1e6,
      "exec.cpu_share" -> window("task_cpu_ns") / 1e6 / (opNs / 1e6 * cores).max(1e-9),
      "exec.scan_rows" -> w("scan_rows"),
      "exec.scan_bytes" -> w("input_bytes"),
      "exec.scan_files" -> w("scan_files"),
      "exec.shuffle_write_bytes" -> w("shuffle_write_bytes"),
      "exec.spill_bytes" -> w("spill_bytes"),
      "serve.server_ms" -> sv.getOrElse("serve.server_ms", 0.0),
      "serve.overhead_ms" -> sv.getOrElse("serve.overhead_ms", 0.0),
      "serve.jobs_per_request" -> (if (serve.isDefined) w("jobs") else 0.0),
      "serve.response_bytes" -> sv.getOrElse("serve.response_bytes", 0.0),
      "jvm.gc_ms" -> (gc._1 - gcAtStart._1).toDouble,
      "jvm.gc_count" -> (gc._2 - gcAtStart._2).toDouble,
      "trace.ops" -> nOps,
      "trace.coverage" -> layerSum / opMean.max(1e-9),
      "trace.overhead_pct" -> (Stats.median(tracedMs.toSeq) / untracedP50 - 1) * 100)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** A small HTTP/1.1 client on HttpURLConnection (keep-alive reuse). */
object Http {
  def send(url: String, body: Option[String]): (Int, String) = {
    val c = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    body.foreach { b =>
      c.setRequestMethod("POST"); c.setDoOutput(true)
      val out = c.getOutputStream
      out.write(b.getBytes("UTF-8")); out.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (code, text)
  }
}
