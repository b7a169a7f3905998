package graft.core

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow

/**
 * One Spark job over every partition of an RDD, running a NAMED task
 * class (`final class X extends ((TaskContext, Iterator[T]) => U) with
 * Serializable`) through the 3-argument `SparkContext.runJob`.
 *
 * Why named: Spark's closure cleaner returns at once for a function whose
 * class is not a lambda, so a job started here reads and parses no class
 * file on the driver. A lambda task (`rdd.mapPartitions(...).collect()`,
 * `rdd.count()`) makes the cleaner ASM-parse the lambda's enclosing class,
 * then `RDD` and `SparkContext` for their own wrapper lambdas, on every
 * job. The task's fields travel in the stage's task binary, which the
 * scheduler broadcasts once per stage, so a task needs no broadcast of
 * its own.
 */
object BareJob {
  /** Spark's job-description local property (`SparkContext`'s own
    * constant is private). */
  private val Description = "spark.job.description"

  /** Run `task` once per partition of `rdd`, as one job described as
    * `step` (see [[run]] below); one result per partition, in partition
    * order. */
  def run[T, U: ClassTag](step: String, rdd: RDD[T],
      task: (TaskContext, Iterator[T]) => U): Array[U] =
    run(step, rdd, task, 0 until rdd.getNumPartitions)

  /** Run `task` over only the partitions `parts` of `rdd`, as one job;
    * one result per listed partition, in the listed order. The job's
    * `spark.job.description` is `step` (the UI and listeners name it by
    * the planner or index step that ran it); the caller's description is
    * restored afterwards. */
  def run[T, U: ClassTag](step: String, rdd: RDD[T], task: (TaskContext, Iterator[T]) => U,
      parts: Seq[Int]): Array[U] = {
    val sc = rdd.sparkContext
    val prev = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, step)
    try sc.runJob(rdd, task, parts)
    finally sc.setLocalProperty(Description, prev)
  }

  /** Column 0 (a long) of every row of `rdd`, as one job described as
    * `step`. */
  def longs(step: String, rdd: RDD[InternalRow]): Array[Long] =
    run(step, rdd, FirstLongs).flatten

  /** The task of [[longs]]: the partition's column-0 longs. */
  object FirstLongs extends ((TaskContext, Iterator[InternalRow]) => Array[Long])
      with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Array[Long] = {
      val out = Array.newBuilder[Long]
      while (it.hasNext) out += it.next().getLong(0)
      out.result()
    }
  }
}
