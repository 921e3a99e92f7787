package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, FormattedMode, GlobalLimitExec, LocalLimitExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** PLAN-SHAPE REGRESSION GUARD for the CodegenFallback failure class —
  * the dominant perf bug of rounds 3, 4, 7 and 9 (higher-order-function
  * lambdas are CodegenFallback, so a Project/Filter hosting one drops
  * out of whole-stage codegen and pays interpreted eval per row; over a
  * scan-sized relation that is a multi-x slowdown the correctness gate
  * cannot see). The seven native expressions purged it; this spec makes
  * the purge permanent: every registry query's physical plan is walked
  * and any CodegenFallback expression inside a Project/Filter that
  * reaches a parquet scan without an intervening cardinality cut
  * (aggregate/limit) fails the build, naming the query, the node and
  * the expression class.
  *
  * Plans are built under `graft.lazyPlans` (the [[graft.Explain]]
  * switch) so construction runs no jobs and the audited plan is the
  * real one, not a checkpoint stub. The same single pass also checks
  * that plan-only construction caches nothing, and pins every query's
  * normalized plan to a committed SHA-256 fingerprint
  * (`src/test/resources/plan_fingerprints.tsv`), so a refactor that
  * changes no semantics provably changes no plan. */
class CodegenLintSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  /** One registry query built plan-only: its physical plan, whether the
    * plan reads a cache entry, and its normalized plan fingerprint. */
  private case class Planned(name: String, plan: SparkPlan,
      cached: Boolean, fingerprint: String)

  /** The formatted plan with everything that varies between runs of
    * the same code stripped: expression and plan ids, generated lambda
    * variable names, lambda class names, identity hashes and the sf
    * directory. Each line's tokens are then sorted, because a distinct
    * aggregate's Expand lists its groups in the hash order of their
    * expression ids, which shift with what ran earlier in the JVM; the
    * cost is that swapping two items of one line goes unseen. */
  private def normalized(plan: String): String =
    plan.replace(SfDir, "<sf>")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\bx_\\d+#", "x_#")
      .replaceAll("\\$\\$Lambda[^\\s,()\\]\\[]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}\\b", "@")
      .split("\n")
      .map(_.split("[\\s,()\\[\\]]+").sorted.mkString(" "))
      .mkString("\n")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** The pass every test here reads. The cache is cleared first so a
    * cached plan can only come from this pass's own construction; file
    * scan metadata is printed untruncated (truncated filter lists shift
    * with id width). */
  private lazy val planned: Seq[Planned] = {
    spark.catalog.clearCache()
    val metaLen = "spark.sql.maxMetadataStringLength"
    val oldLen = spark.conf.getOption(metaLen)
    spark.conf.set(metaLen, Int.MaxValue.toString)
    System.setProperty("graft.lazyPlans", "true")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, SfDir).queryExecution
      Planned(name, qe.sparkPlan,
        qe.withCachedData.collectWithSubqueries {
          case r: InMemoryRelation => r
        }.nonEmpty,
        sha256(normalized(qe.explainString(FormattedMode))))
    } finally {
      System.clearProperty("graft.lazyPlans")
      oldLen.fold(spark.conf.unset(metaLen))(spark.conf.set(metaLen, _))
    }
  }

  /** Does this subtree read a scan-sized relation — i.e. reach a file
    * scan without crossing a node that cuts cardinality (aggregates,
    * limits)? Per-row fallback cost above such a node scales with the
    * corpus; above a cut it scales with the (bounded) group/limit
    * count. */
  private def scanSized(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec | _: GlobalLimitExec | _: LocalLimitExec =>
      false
    case other => other.children.exists(scanSized)
  }

  /** (node kind, expression class) for every CodegenFallback expression
    * hosted by a Project/Filter over a scan-sized input. */
  private def findings(plan: SparkPlan): Seq[(String, String)] =
    plan.collect {
      case p: ProjectExec if p.children.exists(scanSized) =>
        p.projectList
          .flatMap(_.collect { case c: CodegenFallback => c })
          .map(c => ("Project", c.asInstanceOf[Object].getClass.getSimpleName))
      case f: FilterExec if f.children.exists(scanSized) =>
        f.condition.collect { case c: CodegenFallback => c }
          .map(c => ("Filter", c.asInstanceOf[Object].getClass.getSimpleName))
    }.flatten

  test("no registry query hosts a CodegenFallback over a scan-sized Project/Filter") {
    val bad = planned.flatMap { p =>
      findings(p.plan).map { case (node, cls) => s"${p.name}: $cls in $node" }
    }
    assert(bad.isEmpty,
      s"CodegenFallback over scan-sized relations:\n${bad.mkString("\n")}")
  }

  test("plan-only construction caches nothing: no registry plan holds an InMemoryRelation") {
    val cached = planned.filter(_.cached).map(_.name)
    assert(cached.isEmpty,
      s"plan-only registry plans reading a cache entry:\n${cached.mkString("\n")}")
  }

  test("every registry query's normalized plan-only plan matches its committed fingerprint") {
    val src = scala.io.Source.fromResource("plan_fingerprints.tsv")
    val committed =
      try src.getLines().filter(_.nonEmpty).map { line =>
        val Array(name, sha) = line.split("\t")
        name -> sha
      }.toMap
      finally src.close()
    val changed = planned
      .filterNot(p => committed.get(p.name).contains(p.fingerprint))
      .map(p => s"${p.name}\t${p.fingerprint}")
    val gone = (committed.keySet -- planned.map(_.name)).toSeq.sorted
    if (changed.nonEmpty || gone.nonEmpty) {
      val tsv = planned.map(p => s"${p.name}\t${p.fingerprint}\n").mkString
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target", "plan_fingerprints.tsv"),
        tsv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    assert(changed.isEmpty && gone.isEmpty,
      s"\n${changed.size} plan fingerprint(s) changed and ${gone.size} " +
      s"registry name(s) are gone (${gone.mkString(", ")}). If the plan " +
      "change is intended, the replacement lines are:\n" +
      changed.mkString("\n") +
      "\nand the whole file is written to target/plan_fingerprints.tsv.")
  }
}
