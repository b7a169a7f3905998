package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Counters for what planning a query runs: the Spark jobs, and the file
  * scans of one table it plans. */
object PlanProbes {

  /** The Spark jobs `f` runs, counted by a listener. */
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Int) = {
    val (out, descs) = jobDescsOf(spark)(f)
    (out, descs.length)
  }

  /** The `spark.job.description` of every Spark job `f` runs ("" when
    * unset), in start order. The bus is FIFO, so once a marker job's
    * start arrives every earlier job is recorded. */
  def jobDescsOf[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "plan-probes job-count marker"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    val out =
      try {
        val r = f
        sc.setJobDescription(marker)
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setJobDescription(null)
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!descs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
        assert(descs.contains(marker), "listener bus did not drain")
        r
      } finally sc.removeSparkListener(listener)
    (out, descs.asScala.toSeq.takeWhile(_ != marker))
  }

  /** The columns of each file scan over `tableDir` planned while `f`
    * runs (its ReadSchema), recorded by a strategy that plans nothing. */
  def scansOf[T](spark: SparkSession, tableDir: String)(f: => T): (T, Seq[Set[String]]) = {
    import org.apache.spark.sql.catalyst.planning.PhysicalOperation
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = new org.apache.hadoop.fs.Path(tableDir).toUri.getPath
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val spy = new SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        plan match {
          case PhysicalOperation(projects, filters, l: LogicalRelation) =>
            l.relation match {
              case fs: HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toUri.getPath == root) =>
                scans.add((projects ++ filters).flatMap(_.references).map(_.name).toSet)
              case _ =>
            }
          case _ =>
        }
        Nil
      }
    }
    spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ spy
    val out =
      try f
      finally spark.experimental.extraStrategies =
        spark.experimental.extraStrategies.filterNot(_ eq spy)
    (out, scans.asScala.toSeq)
  }
}
