package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; tests only read, never mutate global state). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** The two state-store providers; the suite runs on the HDFS-backed one
    * unless `GRAFT_STATE_PROVIDER` selects another. */
  protected val StateProviders: Seq[String] = Seq(
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  protected val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `f` with the given session confs set, then restores them. A
    * streaming query reads them when it starts. */
  protected def withConfs[A](kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every message down the cause chain — Spark wraps contract errors
    * in SparkException/AnalysisException layers, so asserting on one
    * getMessage misses the interesting one. */
  protected def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))
}
