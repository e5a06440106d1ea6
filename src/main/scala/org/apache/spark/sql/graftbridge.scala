package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column <-> Expression conversion
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Spark 4 decoupled the
  * public Column from Catalyst; library extensions that define custom
  * Expressions need this two-liner inside the sql package to wrap them as
  * Columns (the same access pattern Spark's own classic module uses).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Same bridge for building a DataFrame from a custom LogicalPlan
  * (`Dataset.ofRows` is package-private in Spark 4's classic module).
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Release the storage blocks behind a `localCheckpoint()`ed Dataset.
  * `Dataset.unpersist` only consults the CacheManager, which does not track
  * checkpoint blocks, so process-lifetime checkpoint caches (session-cache
  * lifecycle) need to reach the `LogicalRDD` leaf's RDD directly — that leaf
  * is `private[sql]`, hence this bridge. No-op on non-checkpointed plans;
  * after release the Dataset must not be re-executed (re-build instead).
  */
object GraftRddBridge {
  def unpersistLocalCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
      .collectLeaves().foreach {
        // A STOPPED context already dropped every block with its
        // executors — unpersist would NPE on the dead driver endpoint,
        // and a release sweep that throws mid-iteration leaves the rest
        // of the cache pinned AND the dead entry cached (the r9 full-
        // suite cascade: one suite stops the shared session, every later
        // Caches.releaseAll() re-throws on the same stale frame). Guard
        // plus catch: the stop can also race the unpersist call itself.
        case l: org.apache.spark.sql.execution.LogicalRDD
            if !l.rdd.context.isStopped =>
          try l.rdd.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
        case _ => ()
      }

  /** Rebuild a locally-checkpointed Dataset as a FRESH `LogicalRDD` leaf
    * over the SAME InternalRow RDD, dropping the inherited estimated
    * statistics and constraints. `localCheckpoint` copies the
    * checkpointed plan's estimated stats onto its LogicalRDD; an
    * iterative algorithm whose round plan joins the previous round's
    * frame into itself compounds that BigInt estimate's bit length every
    * round until the driver lives inside BigInteger.multiply (observed:
    * 52s/round with every executor idle). A fresh leaf resets estimation
    * to defaults with NO InternalRow <-> Row conversion — unlike
    * `createDataFrame(df.rdd, schema)`, downstream scans read the
    * checkpoint blocks directly. Non-LogicalRDD plans return unchanged.
    */
  def freshDefaultStatsFrame(df: Dataset[Row]): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.queryExecution.analyzed match {
      case LogicalRDD(output, rdd, part, ord, streaming, stream) =>
        classic.Dataset.ofRows(cdf.sparkSession,
          LogicalRDD(output, rdd, part, ord, streaming, stream)(
            cdf.sparkSession, None, None))
      case _ => df
    }
  }
}

/** Post-execution file-scan metrics — the evidence the layout-optimization
  * entries assert on. `FileSourceScanExec` publishes "numOutputRows" as the
  * rows it EMITTED, i.e. after parquet row-group min/max skipping (the
  * pushed filter prunes whole row groups before any value is read), so
  * comparing it against the same query over an unoptimized layout measures
  * REAL footer-stats skipping, not a simulation. Descends adaptive plans
  * and materialized query stages (a plain `collect` stops at stage
  * boundaries), plus subqueries.
  */
object GraftScanBridge {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** (filesListed, rowsEmittedByScan) summed over every file scan in the
    * executed plan. Call AFTER an action — metrics are zero before
    * execution.
    */
  def scanStats(df: Dataset[Row]): (Long, Long) = {
    val ss = scans(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan)
    (ss.map(_.metrics("numFiles").value).sum,
      ss.map(_.metrics("numOutputRows").value).sum)
  }

  /** [[scanStats]] restricted to scans whose root path contains
    * `pathSubstr` — isolates ONE table's scan inside a multi-scan plan
    * (e.g. the postings read inside a whole engine search).
    */
  def scanStatsFor(df: Dataset[Row], pathSubstr: String): (Long, Long) = {
    val ss = scans(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(pathSubstr)))
    (ss.map(_.metrics("numFiles").value).sum,
      ss.map(_.metrics("numOutputRows").value).sum)
  }

  /** The executed plan's string form (PushedFilters assertions). */
  def executedPlanString(df: Dataset[Row]): String =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan.toString
}

/** Monotone counts of jobs STARTED and tasks ENDED on a context since
  * this bridge first observed it: one lazily-registered SparkListener per
  * context, with the read synchronized through the listener bus's own
  * `waitUntilEmpty` (`private[spark]`, hence the bridge) so a delta
  * taken around a verb is exact, not racing the async event queue.
  * Specs diff the job count to assert a verb's driver-job budget (the
  * EngineSpec auto-dispatch cache assertion: repeated searches must not
  * re-run the table-existence probes); ProfileBench records both per
  * entry, since a plan can keep its job count and still run thousands
  * of near-empty tasks.
  */
object GraftJobBridge {
  private final class Counts {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
  }
  private val counters = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Counts]()
  private def counts(sc: org.apache.spark.SparkContext): Counts = {
    val c = counters.computeIfAbsent(sc, s => {
      val fresh = new Counts
      s.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          fresh.jobs.incrementAndGet(); ()
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          fresh.tasks.incrementAndGet(); ()
        }
      })
      fresh
    })
    sc.listenerBus.waitUntilEmpty()
    c
  }
  def jobsSubmitted(sc: org.apache.spark.SparkContext): Int =
    counts(sc).jobs.get()
  def tasksEnded(sc: org.apache.spark.SparkContext): Long =
    counts(sc).tasks.get()
}
