package graft.tools

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, WholeStageCodegenExec}

/** Catalog-wide whole-stage-codegen audit: for every SparkEntry query,
  * report (a) CodegenFallback expressions anywhere in the physical plan —
  * each one forces its whole operator out of codegen into interpreted
  * eval — and (b) Project/Filter nodes left OUTSIDE any
  * WholeStageCodegen span. Scratch instrumentation, not library surface.
  */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    System.setProperty("graft.cacheTables", "true")
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.SparkEntry.session()
    // AQE wraps the tree in AdaptiveSparkPlanExec (a leaf until
    // execution) — disable so executedPlan is the real operator tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")

    def audit(plan: SparkPlan): (Seq[String], Seq[String]) = {
      val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.getClass.getSimpleName
      }))
      // walk, tracking whether we're under a WholeStageCodegen span
      val naked = scala.collection.mutable.ArrayBuffer[String]()
      // a WholeStageCodegen span covers its whole subtree down to each
      // InputAdapter boundary; everything below an InputAdapter is
      // outside until the next WholeStageCodegenExec
      def walk(p: SparkPlan, inSpan: Boolean): Unit = p match {
        case w: WholeStageCodegenExec => w.children.foreach(walk(_, true))
        case i if i.getClass.getSimpleName.startsWith("InputAdapter") =>
          i.children.foreach(walk(_, false))
        case pr: ProjectExec =>
          if (!inSpan) naked += "Project"
          pr.children.foreach(walk(_, inSpan))
        case f: FilterExec =>
          if (!inSpan) naked += "Filter"
          f.children.foreach(walk(_, inSpan))
        case other => other.children.foreach(walk(_, inSpan))
      }
      walk(plan, inSpan = false)
      (fallbacks.distinct, naked.toSeq)
    }

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val (fb, naked) = audit(df.queryExecution.executedPlan)
        if (fb.nonEmpty || naked.nonEmpty)
          System.err.println(s"[cgaudit] $n  fallback=${fb.mkString("+")}  naked=${naked.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }.mkString(",")}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[cgaudit] $n  ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    System.err.println(s"[cgaudit] done: ${names.size} queries scanned")
    spark.stop()
  }
}
