package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Command line handed over by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, data: String,
                      pins: String, result: String, gitSha: String,
                      sourceSha: String, host: String) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** Seconds of timed work still owed since `t0` (System.nanoTime). */
  def left(t0: Long): Double = seconds - (System.nanoTime() - t0) / 1e9
}

object Opts {
  def parse(a: Array[String]): Opts = {
    val m = a.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("data"), m("pins"), m("result"),
      m("git-sha"), m("source-sha"), m("host"))
  }
}

/** What one run measured and checked. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a false `ok` (wrong output, refused request,
    * missed deadline) counts it as failed.
    */
  def op(what: => String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-insensitive content digest of a table: row count plus the exact
  * sum of a 64-bit hash per row. Floating columns are rounded to 6
  * decimals first, so summation-order noise in the last bits of a double
  * does not read as a wrong answer.
  */
final case class Digest(rows: Long, hash: String)

object Digest {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types._
  private def rowHash(df: DataFrame, cols: Seq[String]): Column = {
    val fields = df.schema.fields.filter(f => cols.isEmpty || cols.contains(f.name))
    xxhash64(fields.toIndexedSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(col(f.name), x => round(x.cast("double"), 6))
        case _ => col(f.name)
      }
    }: _*).cast("decimal(38,0)")
  }
  private def of(r: org.apache.spark.sql.Row, i: Int): Digest =
    Digest(r.getLong(i), Option(r.getDecimal(i + 1)).map(_.toString).getOrElse("0"))

  def of(df: DataFrame, cols: Seq[String] = Nil): Digest =
    of(df.agg(count(lit(1)), sum(rowHash(df, cols))).head(), 0)

  /** One digest per value of a long-valued `key`, in one aggregation. */
  def byKey(df: DataFrame, key: Column, cols: Seq[String]): Map[Long, Digest] =
    df.groupBy(key.as("__k")).agg(count(lit(1)), sum(rowHash(df, cols)))
      .collect().map(r => r.getLong(0) -> of(r, 1)).toMap
}

object Sessions {
  /** The engine's own benchmark session (graft.Bench.session) at
    * local[cpus]; spark.local.dir and the warehouse come from run.py.
    */
  def start(cpus: Int): SparkSession = graft.Bench.session(cpus.toString)

  /** Set up `k` times, each on a fresh session followed by `prep`; keeps
    * the last session and returns each set-up's seconds (setup_s is their
    * median).
    */
  def setup[A](k: Int, cpus: Int, tr: Tracer)(prep: SparkSession => A)
      : (SparkSession, A, Seq[Double]) = {
    var last: (SparkSession, A) = null
    val times = (0 until k).map { _ =>
      if (last != null) last._1.stop()
      val (r, s) = Stats.secs(tr.span("bench.setup") {
        val spark = tr.span("bench.session_start")(start(cpus))
        tr.attach(spark)
        (spark, prep(spark))
      })
      last = r
      s
    }
    (last._1, last._2, times)
  }

}

/** Host-regime control, read once per invocation: nproc threads hash a
  * fixed total of 2^30 longs (SplitMix64); the wall time of the timed
  * pass moves only with the host's effective CPU throughput. It plays the
  * role of graft.CpuProbe.control without Spark, whose kernel takes about
  * 25 s at 4 cores, too long to read in every run.
  */
object Control {
  def reading(nproc: Int): Double = {
    val per = (1L << 30) / nproc
    def pass(): Long = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
      try (0 until nproc).map { t =>
        pool.submit(() => {
          var acc = 0L; var i = t * per; val end = i + per
          while (i < end) { acc += graft.gen.CorpusGen.mix64(i); i += 1 }
          acc
        })
      }.map(_.get()).sum finally pool.shutdown()
    }
    pass()
    Stats.secs(pass())._2
  }
}

object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = Opts.parse(argv)
    val tr = new Tracer(o.trace,
      s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val out = new Outcome
    o.workload match {
      case "batch_build" => BatchBuild.run(o, tr, out)
      case "ner_serve" => NerServe.run(o, tr, out)
    }
    val control = Control.reading(o.nproc)
    if (o.trace) out.put("bench.control_s", control, "s")
    val expected = if (o.trace) Layers.names else Layers.endToEnd
    // layers a workload does not execute did no work in this run: 0
    if (o.trace) Layers.all.foreach { case (n, u) =>
      if (!out.metrics.contains(n)) out.put(n, 0.0, u)
    }
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    expected.foreach { n =>
      val (v, u) = out.metrics(n)
      metrics(n) = mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val art = mutable.LinkedHashMap[String, Any](
      "result" -> result,
      "meta" -> mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "nproc" -> o.nproc, "host" -> o.host,
        "git_sha" -> o.gitSha, "source_sha" -> o.sourceSha,
        "jvm" -> s"${rt.getVmVendor} ${rt.getVmName} ${System.getProperty("java.runtime.version")}",
        "jvm_args" -> rt.getInputArguments.toArray.toSeq
          .filterNot(_.toString.startsWith("--add-opens")),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "control_s" -> control,
        "finished_at_ms" -> System.currentTimeMillis()),
      "error_rate" -> (if (out.attempted == 0) 1.0
                       else out.failed.toDouble / out.attempted),
      "failures" -> out.failures.toSeq,
      "all_metrics" -> out.metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "samples" -> out.samples,
      "info" -> out.info,
      "spans" -> tr.all.map { s =>
        mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "run_id" -> s.runId, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "dur_s" -> s.seconds,
          "self_s" -> tr.selfSeconds(s), "counters" -> s.counters.asMap)
      })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.result),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(art))
    System.err.println(s"perfbench: ${o.workload} seed=${o.seed} " +
      s"attempted=${out.attempted} failed=${out.failed} " +
      out.failures.take(5).mkString("; "))
    // an HTTP client or a stopped Spark context may leave non-daemon threads
    sys.exit(0)
  }
}

object StoreFiles {
  /** (count, total bytes) of the parquet files under a directory. */
  def parquetUnder(dir: String): (Long, Long) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      var n = 0L; var bytes = 0L
      s.forEach { p =>
        if (p.toString.endsWith(".parquet")) { n += 1; bytes += java.nio.file.Files.size(p) }
      }
      (n, bytes)
    } finally s.close()
  }
}
