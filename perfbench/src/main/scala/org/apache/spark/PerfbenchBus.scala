package org.apache.spark

/** Access to listener-bus and job-tag internals, which are
  * package-private to Spark. Listener events arrive asynchronously; a
  * traced job's counters are read only after every event its work
  * posted has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job tags a job was submitted with, from its properties. */
  def jobTags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .toSeq.flatMap(_.split(SparkContext.SPARK_JOB_TAGS_SEP))
}
