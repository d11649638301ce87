package org.apache.spark

import org.apache.spark.scheduler.SparkListenerJobStart

/** Test access to the job tags a job started with, whose property key
  * Spark keeps private. A spec that counts the jobs of one call tags the
  * calling thread with [[SparkContext.addJobTag]] and counts only the
  * job starts that carry its tag, so jobs another thread runs on the
  * shared context never enter the count.
  */
object JobTags {
  def of(e: SparkListenerJobStart): Set[String] =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
}
