package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, ExpressionWithRandomSeed}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executions of the streaming micro-batches that ran, for specs that
  * inspect the plans a query really executed. Each micro-batch ends one
  * SQL execution whose QueryExecution is the batch's IncrementalExecution;
  * `SparkListenerSQLExecutionEnd.qe` is private[sql], hence this package. */
object MicroBatchPlans {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[IncrementalExecution]) = {
    val (out, seen) = executions(spark)(body)
    (out, seen.collect { case ie: IncrementalExecution => ie }.sortBy(_.currentBatchId))
  }

  /** The QueryExecution of every SQL execution that ended while `body`
    * ran, batch or streaming, in the order they ended. */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => Option(end.qe).foreach(seen.add(_): Unit)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs each micro-batch started while `body` ran, keyed by
    * the `streaming.sql.batchId` local property the engine sets on the
    * thread that runs the batch. Jobs outside any micro-batch are not
    * counted. */
  def jobsByBatch[T](spark: SparkSession)(body: => T): (T, Map[Long, Int]) = {
    val batches = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => batches.add(b.toLong): Unit)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, batches.asScala.toSeq.groupBy(identity).map { case (b, js) => b -> js.size })
    } finally sc.removeSparkListener(listener)
  }

  /** The per-batch values left in a micro-batch's plan after optimization:
    * the batch timestamp that stands in for current_timestamp, now,
    * localtimestamp and current_date, and the random seeds Spark draws
    * anew for every batch. The batch's own optimized plan has already
    * folded the timestamp into a literal, so this optimizes its analyzed
    * plan again and looks before that fold. */
  def perBatchValues(ie: IncrementalExecution): Seq[Expression] =
    ie.sparkSession.sessionState.optimizer.execute(ie.analyzed)
      .flatMap(_.expressions.flatMap(_.collect {
        case e: CurrentBatchTimestamp => e
        case e: ExpressionWithRandomSeed => e
      }))
}
