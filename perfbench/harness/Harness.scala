package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Sessions, SparkEntry, Tables}
import graft.pipeline.PipeGraph
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.util.control.NonFatal

/** JVM half of the benchmark: runs one workload against the library's
  * public entry points and writes what happened to a JSON file.  The
  * Python side (`run.py`) generates the inputs, checks the outputs this
  * file reports and computes every metric.
  *
  * Phases: set-up (`Sessions.local` and one cold operation), the
  * workload's warm-up operations, then timed operations until their
  * program time reaches `seconds` (at least one).  With tracing on,
  * operations alternate untraced, traced, traced, untraced, ... (at least
  * these four), so the difference of the two medians is the tracing
  * overhead with a linear warm-up drift cancelled out.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *        <cpus> <seed> <resultJson>
  */
object Harness {
  /** A timed call: wall-clock start and end in ms, to line up with Spark's
    * job times, and its duration measured in ns. */
  final case class Span(name: String, layer: String, start: Long, end: Long,
      seconds: Double)

  /** One unit of work: a pipeline run, or a pass over the queries. */
  final class Op(val phase: String, val traced: Boolean) {
    var seconds = 0.0
    var error: Option[String] = None
    val obs = mutable.LinkedHashMap[String, Any]()
    val spans = mutable.ArrayBuffer[Span]()
    def span[A](name: String, layer: String)(body: => A): A = {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body finally spans += Span(name, layer, t0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e9)
    }
  }

  trait Workload {
    /** The program's work for one operation: this is what is timed. */
    def program(spark: SparkSession, op: Op): Unit
    /** Afterwards, untimed: put what the output checks need into `op.obs`. */
    def check(spark: SparkSession, op: Op): Unit
    /** Operations between the cold one and the timed ones. */
    def warmups: Int = 0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secondsArg, traceArg, cpusArg, seed,
      resultPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("spark.local.dir", s"$work/tmp")
    val workload: Workload = name match {
      case "crawl" => new Crawl(data, s"$work/out/crawl")
      case "relational" => new Relational(data, s"$work/out/relational", seed.toLong)
    }
    val rec = new Recorder
    val ops = mutable.ArrayBuffer[(Op, Map[String, Any])]()
    // Set-up time: the session plus the program's work in the cold first
    // operation (output checks excluded, as in every timed operation).
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val spark = Sessions.local(cpusArg.toInt)
    val session = Span("Sessions.local", "Sessions", s0, System.currentTimeMillis(),
      (System.nanoTime() - n0) / 1e9)
    spark.sparkContext.addSparkListener(rec)

    def runOp(phase: String, traced: Boolean): Op = {
      val op = new Op(phase, traced)
      GraftInternal.flushListenerBus(spark)
      rec.tracing = traced
      // A deep call site reaches the library frames under Spark's own.
      if (traced) System.setProperty("spark.callstack.depth", "400")
      else System.clearProperty("spark.callstack.depth")
      rec.reset()
      val t0 = System.currentTimeMillis()
      try {
        val n0 = System.nanoTime()
        op.span("program", "bench")(workload.program(spark, op))
        op.seconds = (System.nanoTime() - n0) / 1e9
        workload.check(spark, op)
      } catch { case NonFatal(e) => op.error = Some(e.toString.take(500)) }
      val t1 = System.currentTimeMillis()
      GraftInternal.flushListenerBus(spark)
      val (peak, blocksEnd, blocksPeak) = rec.storage
      val extra = mutable.LinkedHashMap[String, Any](
        "start" -> t0, "end" -> t1, "peak_storage_bytes" -> peak,
        "blocks_live_end" -> blocksEnd, "storage_peak_blocks" -> blocksPeak,
        "root_execs" -> rec.synchronized(rec.rootExecs.map(e => Seq(e._1, e._2)).toSeq))
      if (traced) extra ++= traceRecords(rec)
      rec.tracing = false
      ops += ((op, extra.toMap))
      op
    }

    val setupSeconds = session.seconds + runOp("setup", traced = false).seconds
    (0 until workload.warmups).foreach(_ => runOp("warmup", traced = false))
    var n = 0
    var measured = 0.0
    while (n < (if (trace) 4 else 1) || measured < seconds) {
      measured += runOp("timed", traced = trace && (n % 4 == 1 || n % 4 == 2)).seconds
      n += 1
    }
    spark.stop()

    val out = Map[String, Any](
      "workload" -> name, "cpus" -> cpusArg.toInt,
      "setup_seconds" -> setupSeconds, "setup_span" -> spanJson(session),
      "ops" -> ops.map { case (op, extra) =>
        Map[String, Any]("phase" -> op.phase, "traced" -> op.traced,
          "seconds" -> op.seconds, "error" -> op.error.orNull,
          "obs" -> op.obs.toMap, "spans" -> op.spans.map(spanJson).toSeq) ++ extra
      }.toSeq)
    val w = new PrintWriter(new File(resultPath), "UTF-8")
    try w.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    finally w.close()
  }

  private def spanJson(s: Span): Map[String, Any] =
    Map("name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
      "seconds" -> s.seconds)

  private def traceRecords(rec: Recorder): Map[String, Any] = rec.synchronized {
    Map(
      "jobs" -> rec.jobs.values.map(j => Map[String, Any]("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "exec" -> j.execId.getOrElse(-1L),
        "stages" -> j.stageIds, "callsite" -> j.callSite)).toSeq,
      "stages" -> rec.stages.values.toSeq.sortBy(_.id).map(s => Map[String, Any](
        "id" -> s.id, "tasks" -> s.tasks, "task_ms" -> s.taskMs,
        "wait_ms" -> s.waitMs, "gc_ms" -> s.gcMs, "in_records" -> s.inRecords,
        "in_bytes" -> s.inBytes, "out_bytes" -> s.outBytes,
        "shuffle_write" -> s.shufWrite, "shuffle_read" -> s.shufRead)),
      "execs" -> rec.execs.values.toSeq.map(e => Map[String, Any]("id" -> e.id,
        "root" -> e.root, "start" -> e.start, "end" -> e.end, "desc" -> e.desc,
        "frames" -> e.frames, "sink" -> e.sink.orNull)))
  }

  /** The reference's crawler: a PipeGraph whose stage reads `frontier` and
    * writes both `frontier` (the next level) and `log`. */
  final class Crawl(data: String, out: String) extends Workload {
    // The second run is still ~20% slower than the fourth (JIT warm-up).
    override def warmups: Int = 1
    def program(spark: SparkSession, op: Op): Unit = {
      val calls = mutable.ArrayBuffer[Long]()
      op.obs("stage_calls_ns") = calls
      val links = Tables.table(spark, data, "links")
        .select(col("parent").as("src"), col("page").as("dst"))
      val g = op.span("PipeGraph.Builder.build", "pipeline") {
        PipeGraph.builder
          .producer("frontier")(s =>
            Tables.table(s, data, "roots").select(col("page"), lit(0).as("depth")))
          .branchingStage("frontier", Seq("frontier", "log")) { f =>
            calls += System.nanoTime()
            Seq(f.join(links, col("page") === col("src"))
              .select(col("dst").as("page"), (col("depth") + 1).as("depth")), f)
          }
          .consumer("log")(_.write.mode("overwrite").parquet(s"$out/log"))
          .build().fold(e => throw new IllegalStateException(e), identity)
      }
      op.span("PipeGraph.run", "pipeline")(g.run(spark))
    }
    def check(spark: SparkSession, op: Op): Unit = {
      val r = spark.read.parquet(s"$out/log")
        .agg(count(lit(1)), countDistinct(col("page")), sum(col("depth").cast("long")),
          sum(col("page")), sum(col("page") * col("depth")))
        .head()
      op.obs("log") = (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
  }
  /** Order-insensitive content hash of a frame: (row count, sum of row
    * hashes as an exact decimal). */
  def contentHash(df: DataFrame): Seq[String] = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string")).head()
    Seq(r.getLong(0).toString, Option(r.getString(1)).getOrElse("0"))
  }

  /** q01-q20 through `SparkEntry.queries(name)(spark, dir)`, each ended by
    * a noop write, in a seeded order per pass.  The first pass also writes
    * each result as parquet for the oracle comparison. */
  final class Relational(data: String, out: String, seed: Long) extends Workload {
    private val names = SparkEntry.defs.map(_.name).filter(_.matches("q\\d\\d_.*")).sorted
    private var pass = 0
    private var frames = Seq.empty[(String, DataFrame)]
    def program(spark: SparkSession, op: Op): Unit = {
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(names)
      val ran = mutable.ArrayBuffer[(String, DataFrame)]()
      op.obs("queries") = order.map { n =>
        val m = mutable.LinkedHashMap[String, Any]("name" -> n)
        try {
          val t0 = System.nanoTime()
          val (query, df) = op.span(s"construct:$n", "queries") {
            val q = SparkEntry.queries(n)
            (q, q(spark, data))
          }
          val t1 = System.nanoTime()
          op.span(s"plan:$n", "queries")(df.queryExecution.executedPlan)
          val t2 = System.nanoTime()
          op.span(s"exec:$n", "spark")(df.write.format("noop").mode("overwrite").save())
          val t3 = System.nanoTime()
          m ++= Seq("construct" -> (t1 - t0) / 1e9, "plan" -> (t2 - t1) / 1e9,
            "exec" -> (t3 - t2) / 1e9, "seconds" -> (t3 - t0) / 1e9,
            // The query function's class is a lambda of the object that
            // defines the query: its module owns the jobs of the final action.
            "defined_in" -> query.getClass.getName)
          ran += n -> df
        } catch { case NonFatal(e) => m("error") = e.toString.take(500) }
        m
      }
      frames = ran.toSeq
    }
    def check(spark: SparkSession, op: Op): Unit = {
      val first = pass == 0
      pass += 1
      for ((n, df) <- frames) {
        val m = op.obs("queries").asInstanceOf[Seq[mutable.Map[String, Any]]]
          .find(_("name") == n).get
        try {
          // The cold result goes to parquet for the oracle, and its hash is
          // read back from there instead of running the query once more.
          // Later passes run each query once more to hash it: hashing inside
          // the timed action (Dataset.observe) would add ~15% to its time.
          m("hash") = if (first) {
            df.write.mode("overwrite").parquet(s"$out/$n")
            contentHash(spark.read.parquet(s"$out/$n"))
          } else contentHash(df)
        } catch { case NonFatal(e) => m("error") = e.toString.take(500) }
      }
      if (first) {
        val sql = SparkEntry.oracleSql
        op.obs("oracle_sql") = names.map(n => n -> sql.getOrElse(n, null)).toMap
      }
    }
  }
}
