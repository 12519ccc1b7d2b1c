package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Times registry queries as Bench does: after one untimed warm pass, one
  * run from a cleared cache, split into CONSTRUCTION (the builder call; an
  * effectful builder runs its driver-side loops here, e.g.
  * ConnectedComponents.resolve) and MATERIALIZATION (the noop write of
  * the returned plan), with the Spark jobs the run launched and their
  * summed wall. A job sum well above the run's wall means concurrent
  * duplicate work (an unpersisted frame re-run by broadcast builds); a
  * wall well above it means driver-side cost. Formatted plans come from
  * [[DumpPlanFiles]].
  * Usage: runMain graft.tools.Probe <q1,q2,...> [sfDir]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val starts = new ConcurrentHashMap[Int, Long]()
    val jobMs = new ConcurrentHashMap[Int, Long]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.get(e.jobId)).foreach(t0 => jobMs.put(e.jobId, e.time - t0))
    })
    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def clear(): Unit = {
      spark.catalog.clearCache()
      graft.operators.ConnectedComponents.freeAll()
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      clear(); try materialize(fn(spark, dir)) finally clear() // warm
      System.gc(); Thread.sleep(30)
      ListenerBusDrain(sc); starts.clear(); jobMs.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      materialize(df)
      val t2 = System.nanoTime()
      ListenerBusDrain(sc)
      val jobs = jobMs.values.asScala
      println(f"[probe] $name%-28s construct_ms=${(t1 - t0) / 1e6}%.0f " +
        f"materialize_ms=${(t2 - t1) / 1e6}%.0f jobs=${jobs.size} job_ms=${jobs.sum}")
      clear()
    }
    spark.stop()
  }
}
