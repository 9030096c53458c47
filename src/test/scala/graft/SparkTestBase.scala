package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Two expected warnings would flood the log: every
    // `Checkpoints.release` unpersists a locally checkpointed
    // MapPartitionsRDD, and every global window logs "No Partition
    // Defined" (the audit records those as single_partition_windows).
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.execution.window.WindowExec")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}
