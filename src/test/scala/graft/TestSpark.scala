package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (sbt runs suites in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")

  /** The session confs a loop scope may flip (shuffle width, AQE, AQE
    * coalescing), for asserting that a scope or a failure left them as
    * they were. */
  def loopConfs(): Map[String, Option[String]] =
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
}
