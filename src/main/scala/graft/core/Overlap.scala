package graft.core

import java.util.concurrent.{CompletionException, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark jobs run concurrently, so one job's tasks fill the
 *  executor slots while another's result sits on the driver. Every
 *  overlap in the engine goes through here, under one contract:
 *   - joined: the call returns or throws only after EVERY branch has
 *     finished; the first failure is rethrown with the others
 *     suppressed, so no write of a failed fold still runs when its
 *     retry overwrites the same directory;
 *   - cancellable with the caller: a background branch runs under the
 *     caller's local properties (job group, tags, execution id) and
 *     session, captured by Spark's `SQLExecution.withThreadLocalCaptured`
 *     as broadcast exchanges do, so cancelling the caller's group or
 *     stopping its streaming query cancels the branch's jobs too;
 *   - labelled: a branch's jobs carry `graft:<operator>:<phase>`.
 *  The first branch runs on the caller's thread, the rest on one shared
 *  daemon pool that grows on demand, so a branch that itself overlaps
 *  (materializePqIndex → pqCodebooks) never waits for a free thread. */
object Overlap {

  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t }

  /** Run `branches` (phase name → body) concurrently; results in order. */
  def all[T](spark: SparkSession, operator: String)(
      branches: Seq[(String, () => T)]): Seq[T] = {
    val sc = spark.sparkContext
    def labelled(phase: String, body: () => T): T = {
      // the key of SparkContext.SPARK_JOB_DESCRIPTION, which is private
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft:$operator:$phase")
      try body() finally sc.setJobDescription(outer)
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val background = branches.drop(1).map { case (phase, body) =>
      SQLExecution.withThreadLocalCaptured(session, pool)(labelled(phase, body))
    }
    val outcomes = branches.take(1).map { case (phase, body) =>
      attempt(labelled(phase, body)) } ++ background.map(f => attempt(f.join()))
    outcomes.collect { case Left(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => outcomes.collect { case Right(v) => v }
    }
  }

  /** Two branches with their own result types. */
  def apply[A, B](spark: SparkSession, operator: String)(
      first: (String, () => A), second: (String, () => B)): (A, B) =
    all[Any](spark, operator)(Seq(first, second)) match {
      case Seq(a, b) => (a.asInstanceOf[A], b.asInstanceOf[B]) }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch {
      case e: CompletionException if e.getCause != null => Left(e.getCause)
      case e: Throwable => Left(e)
    }
}
