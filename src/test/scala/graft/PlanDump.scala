package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** Diagnostic main: print a query's formatted executed plan and its
  * wall time at a given sf dir — the `.explain`-and-iterate loop the
  * bench can't show. Usage:
  * `sbt "Test/runMain graft.PlanDump q43_asof_join <sf dir>"`
  *
  * Queries that run Spark work while they are BUILT (round loops behind
  * eager or lazy checkpoints, driver collects) hide that work from the
  * top plan, so the AQE-final plan of every SQL execution the build
  * runs is printed first, in execution order, with the number of Spark
  * jobs (AQE stage jobs included) the build and the first count ran.
  *
  * The name `gate` dumps the curation quality gate instead of a query:
  * langId, qualityScore and tokenCount of `documents.text`, filtered on
  * quality >= 0.5 (the perfbench `curation` gate's shape). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    // AQE posts one update per re-plan; the last one an execution posts
    // is its final plan
    val finals = new java.util.concurrent.ConcurrentSkipListMap[Long, SparkPlanInfo]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          finals.put(u.executionId, u.sparkPlanInfo)
        case _ => ()
      }
    }
    def drained(): Int = {
      org.apache.spark.sql.GraftTestShim.drainListeners(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val df =
      if (name == "gate") {
        import org.apache.spark.sql.functions.col
        import graft.operators.{TextAnalysis => TA}
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), TA.langId(col("text")).as("lang"),
            TA.qualityScore(col("text")).as("quality"), TA.tokenCount(col("text")).as("n_tokens"))
          .filter(col("quality") >= 0.5)
      } else SparkEntry.queries(name)(spark, dir)
    val buildJobs = drained()
    println(s"== AQE final plans of the ${finals.size} SQL executions run while building $name ==")
    finals.forEach { (id, plan) =>
      println(s"-- execution $id")
      println(render(plan))
    }
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    val t = (System.nanoTime() - t0) / 1e9
    val countJobs = drained() - buildJobs
    sc.removeSparkListener(listener)
    println(f"[plandump] $name rows=$n time=$t%.3f s jobs: build=$buildJobs count=$countJobs")
    // second run: warm caches, AQE-final plan
    val t1 = System.nanoTime()
    df.count()
    println(f"[plandump] $name warm=${(System.nanoTime() - t1) / 1e9}%.3f s")
    // post-execution view: AQE's FINAL plan (runtime join strategy
    // switches, coalesced partitions), not the initial guess above
    println("== AQE final ==")
    println(df.queryExecution.executedPlan.toString)
  }

  /** The plan tree in `SparkPlan.toString`'s shape. A reused exchange is
    * printed without the subtree it reuses; codegen input adapters are
    * skipped. */
  private def render(root: SparkPlanInfo): String = {
    val sb = new StringBuilder
    def go(p: SparkPlanInfo, prefix: String, childPrefix: String): Unit =
      if (p.nodeName == "InputAdapter" && p.children.size == 1)
        go(p.children.head, prefix, childPrefix)
      else {
        sb.append(prefix).append(p.simpleString).append('\n')
        val kids = if (p.nodeName == "ReusedExchange") Nil else p.children
        kids.zipWithIndex.foreach { case (c, i) =>
          val last = i == kids.size - 1
          go(c, childPrefix + (if (last) "+- " else ":- "),
            childPrefix + (if (last) "   " else ":  "))
        }
      }
    go(root, "", "")
    sb.toString
  }
}
