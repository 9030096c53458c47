package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.SchedulerBridge.drainListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._

import graft.{Checkpoints, SparkEntry}
import graft.sources.Tables

/** One benchmark process. It calls the queries only through their
  * public entry points (`SparkEntry.queries`, the final write,
  * `Checkpoints.releaseAll`) and times those calls from outside.
  *
  * Arguments are `--key value` pairs:
  *  - `data`: fixture directory; `run-dir`: this run's scratch directory
  *  - `queries`: comma-separated query names; `seed`: permutes the query
  *    order of every pass; `seconds`: how long the warm passes run
  *  - `trace`: `1` registers the [[Recorder]]; `record`: output file
  *
  * Pass 0 is the first pass in this JVM. Warm passes follow until
  * `seconds` have elapsed and at least `min-warm` have run. In a traced
  * run the warm passes go traced, untraced, untraced, traced and so on,
  * so the record carries the tracing overhead of this very run, and the
  * JIT warming over the first passes favours neither side.
  *
  * The process prints `PERFBENCH_READY` on stdout the moment set-up is
  * done; the caller times set-up from process start to that line. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val runDir = opt("run-dir")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach { n =>
      (if (n == "events") Tables.events(spark, data) else Tables.t(spark, data, n)).count()
    }
    println("PERFBENCH_READY")
    Console.flush()
    val record = run(spark, data, runDir, opt)
    spark.stop()
    Files.writeString(Paths.get(opt("record")), Json.render(record))
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def run(spark: SparkSession, data: String, runDir: String,
                  opt: Map[String, String]): Map[String, Any] = {
    val names = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min-warm").toInt
    val traced = opt("trace") == "1"
    val sc = spark.sparkContext
    val recorder = new Recorder

    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      drainListenerBus(sc)
      if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
      else { sc.removeSparkListener(recorder); spark.listenerManager.unregister(recorder) }
      attached = on
    }

    def query(pass: Int, name: String): Map[String, Any] = {
      sc.setJobGroup(s"perfbench/$pass/$name", name, interruptOnCancel = false)
      val out = s"$runDir/out/$name"
      val c0 = cpuNs()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0; var left = 0
      var buildEndMs = startMs; var execEndMs = startMs
      val error =
        try {
          val df = SparkEntry.queries(name)(spark, data)
          t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis()
          df.write.mode("overwrite").parquet(out)
          t2 = System.nanoTime(); execEndMs = System.currentTimeMillis()
          left = Checkpoints.trackedCount(spark)
          None
        } catch { case e: Exception => Some(e.getClass.getName) }
      Checkpoints.releaseAll(spark)
      val t3 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val cpu = cpuNs() - c0
      sc.clearJobGroup()
      // the output check is not timed
      val digest = if (error.isEmpty) Some(Digest.of(spark.read.parquet(out))) else None
      Map("name" -> name, "start_ms" -> startMs, "build_end_ms" -> buildEndMs,
        "exec_end_ms" -> execEndMs, "end_ms" -> endMs,
        "wall_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
        "exec_s" -> (t2 - t1) / 1e9, "release_s" -> (t3 - t2) / 1e9,
        "cpu_s" -> cpu / 1e9, "left_after_query" -> left, "error" -> error,
        "rows" -> digest.map(_._1), "hash" -> digest.map(_._2))
    }

    def runPass(pass: Int, tracedPass: Boolean): Map[String, Any] = {
      if (traced) { attach(tracedPass); recorder.markPass(pass) }
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val qs = order.map(query(pass, _))
      Map("pass" -> pass, "traced" -> tracedPass, "order" -> order,
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "queries" -> qs)
    }

    val passes = Seq.newBuilder[Map[String, Any]]
    passes += runPass(0, traced)
    var elapsed = 0.0; var n = 0
    while (elapsed < seconds || n < minWarm || (traced && n % 4 != 0)) {
      val t0 = System.nanoTime()
      n += 1
      passes += runPass(n, traced && n % 4 <= 1)
      elapsed += (System.nanoTime() - t0) / 1e9
    }
    if (traced) drainListenerBus(sc)

    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Map(
      "seed" -> seed, "queries" -> names, "traced" -> traced,
      "warm_seconds" -> elapsed,
      "cores" -> sc.defaultParallelism,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "passes" -> passes.result(),
      "jvm_gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm_heap_after_gc_mb" -> heapAfterGc / 1048576.0,
      "trace" -> (if (traced) recorder.snapshot() else None))
  }
}

/** The output check: row count and an order-independent hash of the
  * rows, taken over the columns in name order. Doubles are narrowed to
  * floats first, so a last-bit difference from summation order cannot
  * flip the hash. */
object Digest {
  private def narrow(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(narrow(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = narrow(f.dataType))))
    case o => o
  }

  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => F.col(s"`${f.name}`").cast(narrow(f.dataType)))
    val row = df.select(F.xxhash64(cols: _*).as("h"))
      .agg(F.count(F.lit(1)), F.sum(F.col("h").cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Prints the [[Digest]] of every parquet directory named on the
  * command line, as one JSON object keyed by directory name. Used to
  * derive the expected digests from an oracle-checked dump. */
object DigestDirs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = args.map { d =>
      val (rows, hash) = Digest.of(spark.read.parquet(d))
      Paths.get(d).getFileName.toString -> Map("rows" -> rows, "hash" -> hash)
    }.toMap
    spark.stop()
    println(Json.render(out))
  }
}
