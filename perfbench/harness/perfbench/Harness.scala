package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. It reaches graft only through
  * `graft.SparkEntry.queries` and `graft.GraftSession.builder`, and writes
  * raw observations (samples, spans, listener events) as one JSON file;
  * `run.py` turns them into metrics.
  *
  * Modes (first argument):
  *   setup  — build the session, warm the engine, print the setup times.
  *   run    — setup, then the closed loop over a workload's queries.
  *   probe  — for each query, check that the timed action keeps every
  *            output column, and time `count()` against the materialized
  *            action.
  *
  * Options are `--key value` pairs; see `run.py` for the values it passes.
  */
object Harness {
  private val baseWallMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = baseWallMs + (System.nanoTime() - baseNano) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("setup") => println(Json(setupFields(setup(opt)._2)))
      case Some("run") => runWorkload(opt)
      case Some("probe") => probe(opt)
      case other => sys.error(s"unknown mode $other")
    }
  }

  // ---------------------------------------------------------------- setup

  final case class Setup(sessionS: Double, warmupS: Double, readyMs: Double)

  private def setupFields(s: Setup): Map[String, Any] =
    Map("session_s" -> s.sessionS, "warmup_s" -> s.warmupS,
      "ready_ms" -> s.readyMs)

  /** Session plus a fixed engine warmup: one scan-free shuffle job, so the
    * first workload query does not pay for starting the scheduler.
    *
    * Spark's generated-class cache holds 100 classes by default, fewer
    * than one pass over a workload compiles (about 145 for expr_agg), so
    * which classes a warm query finds still cached depends on the order of
    * the queries before it, and a warm query's latency varies by up to 2x
    * with the seed. The cache is made large enough to hold a workload:
    * every Janino compile happens in the cold pass, and a warm pass
    * measures the steady state of a warm session. */
  def setup(opt: Map[String, String]): (SparkSession, Setup) = {
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(opt("cpus"))
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    spark.range(100000L).selectExpr("id % 100 as k").groupBy("k").count()
      .collect()
    val t2 = System.nanoTime()
    (spark, Setup((t1 - t0) / 1e9, (t2 - t1) / 1e9, nowMs))
  }

  /** Fixed Spark probe: a host-speed diagnostic, never part of a result. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(5000000L).selectExpr("sum(id % 7)", "max(id * 3 % 11)")
      .collect()
    spark.range(500000L).selectExpr("id % 5000 as k")
      .groupBy("k").count().collect()
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------- checking

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] =>
      MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_))
        .mkString
    case r: Row => canonRow(r)
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def canonRow(r: Row): String =
    if (r.schema == null) (0 until r.length).map(i => canon(r.get(i)))
      .mkString("(", ",", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + ":" + canon(r.get(i)) }.mkString("(", ",", ")")

  /** The output check's digest: columns in name order, floating-point
    * values rounded to nine significant digits, rows sorted. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canonRow).sorted.foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------- workload

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def codegenNs: Long = WholeStageCodegenExec.codeGenTime
  private def compileNs: Long = CodeGenerator.compileTime

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val Entry = """"(q_[A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"""".r
    if (path == "-") Map.empty
    else Entry.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)),
      UTF_8)).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  private def runWorkload(opt: Map[String, String]): Unit = {
    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val expected = readExpected(opt("expected"))
    val catalog = graft.SparkEntry.queries
    val missing = names.filterNot(catalog.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // set up several times in this JVM: the first setup counts from
    // process start, the later ones rebuild the session from scratch
    val setups = (1 to opt("setups").toInt).map { i =>
      if (i > 1) SparkSession.active.stop()
      setup(opt)
    }
    val (spark, st) = setups.last
    val recorder = if (traced) Some(new Recorder(spark)) else None
    // the canary is a diagnostic of the traced run only
    val canaries = mutable.ArrayBuffer.empty[Double]
    if (traced) canaries += canary(spark)

    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0
    def span(name: String, parent: Int, qid: Int, s: Double, e: Double): Int = {
      nextId += 1
      spans += Map("id" -> nextId, "parent" -> parent, "name" -> name,
        "qid" -> qid, "start_ms" -> s, "end_ms" -> e)
      nextId
    }
    nextId += 1
    val runId = nextId
    val first = setups.head._2
    span("setup", runId, 0,
      first.readyMs - (first.sessionS + first.warmupS) * 1e3, st.readyMs)

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var qid = 0

    def runQuery(passId: Int, pass: Int, pos: Int, name: String): Unit = {
      qid += 1
      val cg0 = codegenNs; val cc0 = compileNs
      var df: DataFrame = null
      var rows: Array[Row] = null
      var error = ""
      val c0 = nowMs
      try df = catalog(name)(spark, dir)
      catch { case t: Throwable => error = s"construct: $t" }
      val c1 = nowMs
      if (df != null) {
        try rows = df.collect()
        catch { case t: Throwable => error = s"action: $t" }
      }
      val a1 = nowMs
      val cg1 = codegenNs; val cc1 = compileNs
      var hash = ""
      var ok = false
      if (rows != null) {
        hash = digest(rows)
        ok = expected.get(name).contains((rows.length.toLong, hash))
        if (!ok) error = expected.get(name).fold("no expected result")(
          e => s"result mismatch: expected ${e._1} rows ${e._2}, " +
            s"got ${rows.length} rows $hash")
      }
      val k1 = nowMs
      val q = span("query", passId, qid, c0, k1)
      span("construct", q, qid, c0, c1)
      if (df != null) span("action", q, qid, c1, a1)
      span("check", q, qid, a1, k1)
      samples += Map("pass" -> pass, "pos" -> pos, "name" -> name,
        "qid" -> qid, "construct_s" -> (c1 - c0) / 1e3,
        "action_s" -> (a1 - c1) / 1e3, "check_s" -> (k1 - a1) / 1e3,
        "ok" -> ok, "rows" -> (if (rows == null) -1 else rows.length),
        "hash" -> hash, "error" -> error, "codegen_ns" -> (cg1 - cg0),
        "compile_ns" -> (cc1 - cc0))
      // release what the query cached, outside the query's span
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    def runPass(pass: Int, kind: String, tracedPass: Boolean): Unit = {
      // the cold pass runs the queries in the workload's own order: the
      // first queries of a cold JVM warm the engine up for the later ones,
      // so a cold pass's time depends on its order, and one sample per run
      // cannot average that out. Every later pass is permuted by the seed,
      // mixed with the pass number (java.util.Random maps nearby seeds to
      // nearly the same first draws).
      val order =
        if (kind == "cold") names
        else new scala.util.Random(scala.util.hashing.MurmurHash3
          .productHash((seed, pass))).shuffle(names)
      if (tracedPass) recorder.foreach(_.attach())
      heapPools.foreach(_.resetPeakUsage())
      val p0 = nowMs
      nextId += 1
      val passId = nextId
      order.zipWithIndex.foreach { case (n, i) => runQuery(passId, pass, i, n) }
      val p1 = nowMs
      if (tracedPass) recorder.foreach(_.detach())
      spans += Map("id" -> passId, "parent" -> runId,
        "name" -> "pass", "qid" -> 0, "start_ms" -> p0, "end_ms" -> p1)
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> tracedPass,
        "start_ms" -> p0, "end_ms" -> p1,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }

    // closed loop, one client: a cold pass, then settling passes that are
    // not measured (the JIT is still speeding the driver up), then a
    // fixed number of measured warm passes, so every run does the same
    // work. A traced run alternates traced and untraced warm passes, in
    // pairs, so the tracing overhead is measured in the same process.
    runPass(0, "cold", traced)
    val settle = opt("settle").toInt
    (1 to settle).foreach(p => runPass(p, "settle", tracedPass = false))
    val warm = opt("passes").toInt
    (1 to (if (traced) 2 * ((warm + 1) / 2) else warm)).foreach { p =>
      runPass(settle + p, "warm", traced && p % 2 == 1)
    }
    if (traced) canaries += canary(spark)
    spans += Map("id" -> runId, "parent" -> 0, "name" -> "run", "qid" -> 0,
      "start_ms" -> baseWallMs, "end_ms" -> nowMs)

    val rec: Map[String, Any] = recorder.fold(Map.empty[String, Any]) { r =>
      Map(
        "jobs" -> r.jobs.toSeq.map(j => Map("id" -> j.id,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
          "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "empty_tasks" -> j.emptyTasks, "cpu_ns" -> j.cpuNs,
          "wait_ms" -> j.waitMs,
          "shuffle_read_b" -> j.shuffleReadB,
          "shuffle_write_b" -> j.shuffleWriteB, "spill_b" -> j.spillB,
          "input_b" -> j.inputB, "output_b" -> j.outputB)),
        "actions" -> r.actions.toSeq.map(a => Map("func" -> a.func,
          "ok" -> a.ok, "peak_rows" -> a.peakRows,
          "phases" -> a.phases.map { case (k, (s, e)) => k -> Seq(s, e) })),
        "compiles" -> r.compiles.toSeq.map { case (e, d) =>
          Map("end_ms" -> e, "dur_ms" -> d) })
    }
    val out = Map[String, Any](
      "setups" -> setups.map(x => setupFields(x._2)),
      "canary_s" -> canaries.toSeq,
      "gc_total_s" -> gcMs / 1e3,
      "stamp" -> Map("spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "master" -> spark.sparkContext.master),
      "passes" -> passes.toSeq, "samples" -> samples.toSeq,
      "spans" -> spans.toSeq) ++ rec
    Files.write(Paths.get(opt("out")), Json(out).getBytes(UTF_8))
    spark.stop()
  }

  // ---------------------------------------------------------------- probe

  /** For every query: does the timed action (`collect`) keep every output
    * column? The action's analyzed and optimized plans are compared with
    * the DataFrame's columns. With `--gap`, also time `count()` against the
    * materialized action, warm (second of two runs each). */
  private def probe(opt: Map[String, String]): Unit = {
    val names = opt("queries").split(",").toSeq
    val gap = opt.get("gap").fold(Set.empty[String])(_.split(",").toSet)
    val (spark, _) = setup(opt)
    val seen = mutable.ArrayBuffer.empty[Seq[String]]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution
          .QueryExecution, d: Long): Unit = seen.synchronized {
        seen += qe.optimizedPlan.output.map(_.name)
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution
          .QueryExecution, e: Exception): Unit = ()
    }
    val catalog = graft.SparkEntry.queries
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val results = names.map { n =>
      val df = catalog(n)(spark, opt("data"))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      seen.synchronized(seen.clear())
      spark.listenerManager.register(l)
      val rows = df.collect()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
      val actionCols = seen.synchronized(seen.lastOption.getOrElse(Nil))
      val kept = actionCols == df.columns.toSeq &&
        rows.forall(_.length == df.columns.length)
      val times: Map[String, Any] = if (!gap(n)) Map.empty else {
        def twice(f: => Unit): Double = { timed(f); timed(f) }
        Map("count_s" -> twice(catalog(n)(spark, opt("data")).count()),
          "collect_s" -> twice(catalog(n)(spark, opt("data")).collect()))
      }
      spark.catalog.clearCache()
      Map("name" -> n, "columns" -> df.columns.toSeq,
        "action_columns" -> actionCols, "kept_all" -> kept) ++ times
    }
    Files.write(Paths.get(opt("out")), Json(Map("probe" -> results))
      .getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
