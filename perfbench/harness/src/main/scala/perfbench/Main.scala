package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.SparkEntry
import graft.ops.{AnnIncr, CurateIncr, DedupIncr, TfidfIncr}
import graft.sources.Catalog
import graft.streaming.Ingest

/** Closed-loop, single-client runner of one workload. Times only calls
  * into the program's public functions; with `--trace 1` it also records
  * spans around the same calls and engine counters per op. Writes raw
  * samples under `--out`; `perfbench/run.py` turns them into metrics and
  * checks the outputs it dumps outside the timed window.
  *
  *   --workload analyst_sql|daily_cycle --in DIR --out DIR
  *   --seconds S --trace 0|1 --seed N
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = new java.io.File(a("out")).getCanonicalPath
    val in = new java.io.File(a("in")).getCanonicalPath
    val cores = Runtime.getRuntime.availableProcessors

    // set-up = session start + catalog registration, three times (the first
    // in a fresh JVM is cold; the median is a warm one); the last session
    // is the one the workload runs on
    val setups = 3
    val setupS, registerS = ArrayBuffer[Double]()
    for (i <- 1 to setups) {
      val t0 = System.nanoTime()
      val spark = session(cores, out)
      val t1 = System.nanoTime()
      Catalog.registerExternalTables(spark, s"$in/tables")
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      registerS += (t2 - t1) / 1e9
      if (i < setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val spark = SparkSession.active
    val b = new Bench(spark, a("trace") == "1", cores)
    b.mark("setup")
    val run = new Workloads(b, in, out, a("seconds").toDouble, a("seed").toLong)
    a("workload") match {
      case "analyst_sql"  => run.analystSql()
      case "daily_cycle"  => run.dailyCycle()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    b.finish(out, setupS.toSeq, registerS.toSeq)
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
}

/** Timing, spans and per-op counters for one run. An op is one call into
  * the program; a failed op is counted and the run goes on where it can. */
final class Bench(val spark: SparkSession, val trace: Boolean, val cores: Int) {
  private val sc = spark.sparkContext
  private val listener: Option[EngineListener] = if (trace) Some(new EngineListener) else None
  listener.foreach(sc.addSparkListener)
  private val tracer = new Tracer
  private val origin = System.nanoTime()

  private case class OpRec(id: Int, name: String, s: Double)
  private val ops = ArrayBuffer[OpRec]()
  val cycles = ArrayBuffer[(String, Double, Long)]() // (kind, seconds, documents)
  val extra = mutable.LinkedHashMap[String, Double]()
  /** Seconds since JVM start at the end of each phase (set-up, warm-up,
    * window, checks), printed so a run's time budget can be read off. */
  private val phases = mutable.LinkedHashMap[String, Double]()
  def mark(phase: String): Unit =
    phases(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  var attempted, failed = 0
  private var nextOp = 0
  private var currentOp = -1
  private var fenceNs = 0L
  private var windowStart, windowEnd = 0L

  /** Start of the measured window: everything before it was warm-up. */
  def startWindow(): Unit = {
    ops.clear(); cycles.clear(); extra.clear(); fenceNs = 0L
    System.gc() // start every window from a collected heap
    listener.foreach { l => GraftShim.drainListenerBus(spark); l.measuring = true }
    mark("warmup")
    windowStart = System.nanoTime()
  }

  def endWindow(): Unit = {
    windowEnd = System.nanoTime()
    listener.foreach { l => GraftShim.drainListenerBus(spark); l.measuring = false }
    mark("window")
  }

  def elapsed: Double = (System.nanoTime() - windowStart) / 1e9

  def op[T](name: String)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    val startMs = System.currentTimeMillis()
    listener.foreach { l => l.open(id, startMs); sc.setJobGroup(s"pb-$id", name) }
    currentOp = id
    val t0 = System.nanoTime()
    val r =
      try Some(span(name)(body))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $name failed: $e")
          e.printStackTrace()
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    currentOp = -1
    listener.foreach { l =>
      sc.clearJobGroup()
      l.close(id, startMs, System.currentTimeMillis())
      val f0 = System.nanoTime()
      GraftShim.drainListenerBus(spark)
      fenceNs += System.nanoTime() - f0
    }
    if (r.isDefined) ops += OpRec(id, name, dt)
    r
  }

  /** Untimed work (warm-up, result dumps) on `cores` threads: counted as
    * attempted and, when it throws, as failed. */
  def parallel(tasks: Seq[(String, () => Unit)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val futures = tasks.map { case (_, f) =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = f() })
      }
      tasks.zip(futures).foreach { case ((name, _), fut) =>
        attempted += 1
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            failed += 1
            System.err.println(s"[perfbench] $name failed: ${e.getCause}")
            e.getCause.printStackTrace()
        }
      }
    } finally pool.shutdown()
  }

  /** A grouping span (a day, a pass) or a sub-span inside an op. */
  def span[T](name: String)(body: => T): T =
    if (trace) tracer.span(name, currentOp)(body) else body

  /** Run a query to completion on the executors without collecting its
    * rows: the plan is forced once (so planning and execution can be told
    * apart) and then executed from that same plan. */
  def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    span("plan")(qe.executedPlan)
    span("exec") {
      SQLExecution.withNewExecutionId(qe, Some("perfbench"))(
        qe.executedPlan.execute().foreach(_ => ()))
    }
  }

  def finish(out: String, setupS: Seq[Double], registerS: Seq[Double]): Unit = {
    val wall = (windowEnd - windowStart) / 1e9
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    val opLines = ops.map { o =>
      val c = listener.map(_.of(o.id))
      def n(f: Counters => java.util.concurrent.atomic.AtomicLong) = c.map(f(_).get).getOrElse(0L)
      s"""{"id":${o.id},"name":"${o.name}","s":${o.s},"tasks":${n(_.tasks)},""" +
        s""""stages":${n(_.stages)},"cpu_ns":${n(_.cpuNs)},"gc_ms":${n(_.gcMs)},""" +
        s""""in_b":${n(_.inputBytes)},"out_b":${n(_.outputBytes)},"shr_b":${n(_.shuffleRead)},""" +
        s""""shw_b":${n(_.shuffleWrite)},"spill_b":${n(_.spill)}}"""
    }
    Files.writeString(Paths.get(s"$out/ops.jsonl"), opLines.mkString("", "\n", "\n"))
    val eng = listener.map { l =>
      val t = l.total
      s""","engine":{"tasks":${t.tasks.get},"stages":${t.stages.get},"cpu_ns":${t.cpuNs.get},""" +
        s""""gc_ms":${t.gcMs.get},"shr_b":${t.shuffleRead.get},"shw_b":${t.shuffleWrite.get},""" +
        s""""spill_b":${t.spill.get},"fence_s":${fenceNs / 1e9}}"""
    }.getOrElse("")
    val cyc = cycles.map { case (k, s, d) => s"""{"kind":"$k","s":$s,"docs":$d}""" }
    mark("after")
    val ext = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val ph = phases.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    Files.writeString(Paths.get(s"$out/result.json"),
      s"""{"setup_s":${arr(setupS)},"register_s":${arr(registerS)},"wall_s":$wall,""" +
        s""""cores":$cores,"attempted":$attempted,"failed":$failed,""" +
        s""""cycles":${cyc.mkString("[", ",", "]")},"extra":{$ext},"phases":{$ph}$eng}""")
    if (trace) tracer.write(s"$out/spans.jsonl", origin)
  }
}

final class Workloads(b: Bench, in: String, out: String, seconds: Double, seed: Long) {
  private val spark = b.spark
  private val tables = s"$in/tables"
  private type Task = (String, () => Unit)

  /** Oracle-backed SQL-surface queries: five per family (Relational,
    * Aggregates, Windows, Scalars). */
  private val AnalystQueries: Seq[String] = Seq(
    "q_filter_like", "q_join_star", "q_join_left", "q_sort_multi", "q_subquery_in",
    "q_agg_group", "q_agg_rollup", "q_agg_pivot", "q_agg_stats", "q_heavy_hitters",
    "q_win_rank", "q_win_lag_lead", "q_win_moving_avg", "q_win_topk_per_group", "q_sessionize",
    "q_str_funcs", "q_date_funcs", "q_json_funcs", "q_math_funcs", "q_array_funcs")

  /** The curation stages, in pipeline order, with the layer (module
    * family) each belongs to. daily_cycle's traced run passes them once
    * over the corpus that survived the replay. */
  private val CurateStages: Seq[(String, String)] = Seq(
    "q_dedup_minhash" -> "ops.dedup", "q_sim_jaccard" -> "ops.dedup",
    "q_dedup_cluster" -> "ops.dedup", "q_dedup_survivors" -> "ops.dedup",
    "q_text_tfidf" -> "ops.text", "q_text_keyphrases" -> "ops.text",
    "q_ann_lsh" -> "ops.dedup")

  /** Write a result as one file for the oracle check. */
  private def dump(q: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$q")

  private def writeOracle(names: Seq[String]): Unit = {
    val m = SparkEntry.oracleSql
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    names.foreach(n => node.put(n, m(n)))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), om.writeValueAsString(node))
  }

  /** One query per op, in a seeded order, whole passes until the window
    * has run `seconds`. The untimed first pass, which writes the outputs
    * the oracle checks, is the warm-up. */
  def analystSql(): Unit = {
    val order = new scala.util.Random(seed).shuffle(AnalystQueries)
    b.parallel(order.map(q => s"check.$q" -> (() => dump(q, SparkEntry.queries(q)(spark, tables)))))
    writeOracle(order)
    b.startWindow()
    while (b.elapsed < seconds) {
      val t0 = System.nanoTime()
      b.span("harness.pass") {
        order.foreach(q => b.op(s"ops.relational.$q")(b.drain(SparkEntry.queries(q)(spark, tables))))
      }
      b.cycles += (("pass", (System.nanoTime() - t0) / 1e9, 0L))
    }
    b.endWindow()
    probeFunctions()
  }

  private val Tweets = "graft.tweets"
  private val NBuckets = b.cores
  /** Days replayed untimed before the window: the history the timed days
    * fold onto. A member compacts once it holds more than `maxDeltaDays`
    * delta days; the limit is set so that the first timed day merges all
    * of that history. A member adds `perDay` delta days a day: TfidfIncr's
    * takedowns are delta days of their own, the others' are not. */
  private val HistoryDays = 2
  private def maxDeltaDays(perDay: Int) = perDay * (HistoryDays + 1) - 1
  private val compacted = new java.util.concurrent.atomic.AtomicInteger
  private def wh(m: String) = s"$out/warehouse/$m"
  private def prefix(m: String) = s"pb_$m"

  /** Landed documents (a day, or a takedown set) in the shape the members
    * fold: lang and source ride in the tweet's hashtags. */
  private def docsOf(filter: Column): DataFrame =
    spark.table(Tweets).where(filter).select(
      col("id").cast("long").as("doc_id"), col("text"),
      col("hashtags")(0).as("lang"), col("hashtags")(1).as("source"),
      length(col("text")).cast("long").as("n_chars"))

  private def folds(c: Int, slice: DataFrame): Seq[Task] = Seq(
    "ops.incr.fold.dedup" -> (() => DedupIncr.runDay(spark, slice.select("doc_id", "text"),
      prefix("dedup"), wh("dedup"), c, NBuckets)),
    "ops.incr.fold.tfidf" -> (() => TfidfIncr.runDay(spark, slice.select("doc_id", "text"),
      prefix("tfidf"), wh("tfidf"), c, NBuckets)),
    "ops.incr.fold.ann" -> (() => AnnIncr.runDay(spark,
      spark.read.parquet(s"$in/days/emb_$c.parquet"), prefix("ann"), wh("ann"), c, NBuckets)),
    "ops.incr.fold.curate" -> (() => CurateIncr.runDayRetractable(spark, slice,
      prefix("curate"), wh("curate"), c, NBuckets)))

  private def deletes(c: Int, ids: Seq[Long]): Seq[Task] = {
    import spark.implicits._
    val idDf = ids.toDF("doc_id")
    val gone = docsOf(col("id").cast("long").isin(ids: _*))
    Seq(
      "ops.incr.delete.dedup" -> (() => DedupIncr.deleteDay(spark, idDf, prefix("dedup"),
        wh("dedup"), c, NBuckets)),
      "ops.incr.delete.tfidf" -> (() => TfidfIncr.deleteDay(spark, gone.select("doc_id", "text"),
        prefix("tfidf"), wh("tfidf"), c, NBuckets)),
      "ops.incr.delete.ann" -> (() => AnnIncr.deleteDay(spark, idDf.select($"doc_id".as("vec_id")),
        prefix("ann"), wh("ann"), c, NBuckets)),
      "ops.incr.delete.curate" -> (() => CurateIncr.deleteDayRetractable(spark, gone,
        prefix("curate"), wh("curate"), c, NBuckets)))
  }

  /** Each member's compaction trigger; `compacted` counts the calls that
    * merged. */
  private val compactions: Seq[Task] = Seq[(String, () => Boolean)](
    "dedup" -> (() => DedupIncr.maybeCompact(spark, prefix("dedup"),
      wh("dedup"), NBuckets, maxDeltaDays(1))),
    "tfidf" -> (() => TfidfIncr.maybeCompact(spark, prefix("tfidf"),
      wh("tfidf"), NBuckets, maxDeltaDays(2))),
    "ann" -> (() => AnnIncr.maybeCompact(spark, prefix("ann"),
      wh("ann"), NBuckets, maxDeltaDays(1))),
    "curate" -> (() => CurateIncr.maybeCompactRetractable(spark,
      prefix("curate"), wh("curate"), NBuckets, maxDeltaDays(1)))
  ).map { case (m, f) =>
    s"ops.incr.compact.$m" -> (() => { if (f()) compacted.incrementAndGet(); () })
  }

  /** The four members' reports, each with the oracle query its final
    * state must equal (the batch recompute on the surviving corpus). */
  private val reports: Seq[(String, String, () => DataFrame)] = Seq(
    ("dedup", "q_dedup_incr", () => DedupIncr.pairs(spark, prefix("dedup"), wh("dedup"))),
    ("tfidf", "q_tfidf_incr", () => TfidfIncr.report(spark, prefix("tfidf"), wh("tfidf"))),
    ("ann", "q_ann_incr", () => AnnIncr.topK(spark, prefix("ann"), wh("ann"),
      AnnIncr.storeQueries(spark, prefix("ann"), wh("ann")), 3).orderBy("q_id", "rk")),
    ("curate", "q_pipeline_curate_incr", () =>
      CurateIncr.reportRetractable(spark, prefix("curate"), wh("curate")).orderBy("split", "lang")))
  /** Serving a report = reading it and writing it out as one file, the file
    * the oracle check reads after the run. */
  private val reportReads: Seq[Task] =
    reports.map { case (m, q, df) => s"ops.incr.report.$m" -> (() => dump(q, df())) }

  private def timed(tasks: Seq[Task]): Unit = tasks.foreach { case (n, f) => b.op(n)(f()) }

  private def landedFiles(): Long = {
    val p = Paths.get(s"$out/landed")
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
  }

  /** Land a day's NDJSON in the inbox (atomically: the source skips dot
    * files), ingest it and make its partition visible in the catalog;
    * returns the day's documents. */
  private def land(c: Int, date: String, first: Boolean): DataFrame = {
    val inbox = Paths.get(s"$out/inbox")
    Files.createDirectories(inbox)
    val tmp = inbox.resolve(s".day_$c.ndjson")
    Files.copy(Paths.get(s"$in/days/day_$c.ndjson"), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, inbox.resolve(s"day_$c.ndjson"), StandardCopyOption.ATOMIC_MOVE)
    val files0 = landedFiles()
    b.op("streaming.ingest.land")(
      Ingest.runAvailableNow(spark, inbox.toString, s"$out/landed", s"$out/ckpt"))
    b.extra("streaming.ingest.files_written") =
      b.extra.getOrElse("streaming.ingest.files_written", 0.0) + (landedFiles() - files0)
    if (first)
      b.op("sources.catalog.register_landed")(Catalog.registerPartitionedExternal(spark, Tweets,
        s"$out/landed", Seq("platform", "league", "year", "month", "day")))
    else b.op("sources.catalog.recover")(Catalog.recoverPartitions(spark, Tweets))
    val Array(y, m, d) = date.split("-").map(_.toInt)
    docsOf(col("year") === y && col("month") === m && col("day") === d)
  }

  def dailyCycle(): Unit = {
    import scala.jdk.CollectionConverters._
    val sched = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$in/schedule.json")).elements.asScala.toSeq
    def ids(e: com.fasterxml.jackson.databind.JsonNode) =
      e.get("ids").elements.asScala.map(_.asLong).toSeq
    // The schedule alternates fold and takedown cycles; a day runs one of
    // each: the fold's NDJSON lands, the members fold it, then retract the
    // takedown's ids, and the day ends when all four reports are read back.
    val days = sched.grouped(2).toSeq
    require(days.forall(d => d.map(_.get("kind").asText) == Seq("fold", "takedown")))
    def cycle(e: com.fasterxml.jackson.databind.JsonNode) = e.get("cycle").asInt
    require(days.size > HistoryDays, s"need more than $HistoryDays days")
    val done = ArrayBuffer[Int]()
    // warm-up, untimed: the history days. The first registers the landed
    // table; on each, every member folds, retracts, compacts and serves its
    // report on its own thread
    for ((Seq(f, t), i) <- days.take(HistoryDays).zipWithIndex) {
      val slice = land(cycle(f), f.get("date").asText, first = i == 0)
      val perMember = Seq(folds(cycle(f), slice), deletes(cycle(t), ids(t)), compactions,
        reportReads).transpose
      b.parallel(perMember.map(steps => steps.head._1 -> (() => steps.foreach(_._2()))))
      done ++= Seq(cycle(f), cycle(t))
    }
    compacted.set(0)
    // measured: whole days, from the landing to the reports, until the
    // window has run `seconds`
    b.startWindow()
    val timedDays = days.drop(HistoryDays).iterator
    for (Seq(f, t) <- timedDays.takeWhile(_ => b.failed == 0 && b.elapsed < seconds)) {
      val start = System.nanoTime()
      b.span("harness.day") {
        timed(folds(cycle(f), land(cycle(f), f.get("date").asText, first = false)))
        timed(deletes(cycle(t), ids(t)))
        timed(compactions)
        timed(reportReads)
      }
      b.cycles += (("day", (System.nanoTime() - start) / 1e9, f.get("n_docs").asLong))
      done ++= Seq(cycle(f), cycle(t))
    }
    b.endWindow()
    b.extra("ops.incr.compactions") = compacted.get
    Files.writeString(Paths.get(s"$out/cycles_done.json"), done.mkString("[", ",", "]"))
    if (b.trace) {
      b.extra("ops.incr.max_files_per_bucket") = Seq(
        DedupIncr.maxFilesPerBucket(spark, prefix("dedup"), wh("dedup")),
        TfidfIncr.maxFilesPerBucket(spark, prefix("tfidf"), wh("tfidf")),
        AnnIncr.maxFilesPerBucket(spark, prefix("ann"), wh("ann"))).max.toDouble
      curationPass(done.toSeq.map(sched).filter(_.get("kind").asText == "takedown").flatMap(ids))
    }
    writeOracle(reports.map(_._2) ++ (if (b.trace) CurateStages.map(_._1) else Nil))
    probeFunctions()
  }

  /** The batch counterpart of the members: one cold pass of the curation
    * stages over the corpus that survived the replay, each stage timed
    * while it writes the result the oracle checks. */
  private def curationPass(gone: Seq[Long]): Unit = {
    import spark.implicits._
    val keep = spark.table(Tweets).select(col("id").cast("long").as("doc_id"))
      .except(gone.toDF("doc_id"))
    val surv = s"$out/surviving"
    spark.read.parquet(s"$tables/documents.parquet").join(keep, "doc_id")
      .write.mode("overwrite").parquet(s"$surv/documents.parquet")
    spark.read.parquet(s"$tables/embeddings.parquet")
      .join(keep.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      .write.mode("overwrite").parquet(s"$surv/embeddings.parquet")
    b.extra("surviving_docs") = spark.read.parquet(s"$surv/documents.parquet").count().toDouble
    CurateStages.foreach { case (q, layer) =>
      b.op(s"$layer.$q")(dump(q, SparkEntry.queries(q)(spark, surv)))
    }
  }

  /** Kernel throughput of the program's hash functions: an aggregate over
    * a cached 16-fold copy of the corpus text, so the timing is the
    * kernel's and not the scan's. Trace runs only, after the window. */
  private def probeFunctions(): Unit = if (b.trace) {
    val text = spark.read.parquet(s"$tables/documents.parquet").select(col("text"))
      .crossJoin(spark.range(16)).select(col("text")).cache()
    val rows = text.count().toDouble
    def rate(name: String, c: Column): Unit = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        b.span(s"functions.$name")(text.agg(max(c)).collect())
        (System.nanoTime() - t0) / 1e9
      }
      b.extra(s"functions.${name}_rows_per_s") = rows / ts.sorted.apply(2)
    }
    rate("h64", graft.functions.H64.h64(col("text")))
    rate("rollfp", graft.functions.RollFp.fp(split(col("text"), " ")))
    text.unpersist()
  }
}
