package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session rule every entry point uses: cores come from
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors (which honour
  * a `taskset` pin); shuffle partitions = cores; UTC session time zone;
  * no UI; WARN logging. The master is `local[cores]` only when none is
  * configured yet, so `spark-submit --master …` decides where it runs. */
object Session {
  val CpusVar = "SPARK_GRAFT_CPUS"

  final case class Resolved(master: String, cores: Int)

  def resolve(env: Map[String, String], conf: SparkConf): Resolved = {
    val cores = env.get(CpusVar) match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$v'"))
    }
    Resolved(conf.getOption("spark.master").getOrElse(s"local[$cores]"), cores)
  }

  def start(env: Map[String, String] = sys.env): SparkSession = {
    val r = resolve(env, new SparkConf())
    val spark = SparkSession.builder()
      .master(r.master)
      .config("spark.sql.shuffle.partitions", r.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
