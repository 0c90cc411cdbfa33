package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, for specs that pin "no job" or
  * "one job" contracts. */
object JobCount {
  private val Marker = "jobcount-marker"

  /** Job group of every job started, and the groups whose closing marker
    * job has started. */
  private val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val listener: Unit = SparkSpec.session.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty("spark.jobGroup.id")).foreach { g =>
          if (p.getProperty("spark.job.description") == Marker) markers.add(g): Unit
          else jobGroups.add(g): Unit
        }
      }
  })
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Spark jobs `body` starts from this thread. A marker job in the same
    * group closes the window: the listener bus delivers events in order,
    * so once it has seen the marker it has seen every earlier job. */
  def jobsOf(body: => Unit): Int = {
    listener
    val g = s"jobcount-${groupSeq.incrementAndGet()}"
    val sc = SparkSpec.session.sparkContext
    sc.setJobGroup(g, g)
    try {
      body
      sc.setJobDescription(Marker)
      sc.parallelize(Seq(1), 1).count(): Unit
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!markers.contains(g)) {
      assert(System.nanoTime() < deadline, "the listener bus did not drain")
      Thread.sleep(20)
    }
    jobGroups.toArray.count(_ == g)
  }
}
