package graft.tools

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Deterministic listener-bus drain for the measurement tools. Spark
  * delivers listener events asynchronously, but in posting order within
  * a queue, and every listener added through `addSparkListener` shares
  * one queue. So once a listener on that queue has seen the end of a
  * job submitted now, every other listener on it has seen all events of
  * the jobs that ran before. [[apply]] runs such a one-task sentinel job,
  * tagged with a local property so the tools' own listeners can skip it
  * ([[isSentinel]]), and waits for its end under a bounded timeout.
  */
object ListenerDrain {

  private val SentinelKey = "graft.tools.drainSentinel"

  /** True for the properties of a job (or its stages) that [[apply]] ran. */
  def isSentinel(props: Properties): Boolean =
    props != null && props.getProperty(SentinelKey) != null

  def apply(sc: SparkContext, timeoutSeconds: Long = 60): Unit = {
    val drained = new CountDownLatch(1)
    @volatile var sentinelJob = -1
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (isSentinel(js.properties)) sentinelJob = js.jobId
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == sentinelJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SentinelKey, "drain")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(SentinelKey, null)
      if (!drained.await(timeoutSeconds, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"listener bus did not deliver the sentinel job's end within $timeoutSeconds s")
    } finally sc.removeSparkListener(listener)
  }
}
