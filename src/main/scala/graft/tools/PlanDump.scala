package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-snapshot archive: dump the formatted physical plan of every
  * SparkEntry query to PLANS.md, normalized to be DIFF-CLEAN across
  * runs — so plan regressions (a lost broadcast, a new exchange, a
  * fatter ReadSchema) diff the way bench diffs wall time. Dev tool.
  *
  * Normalizations (representation noise, not plan shape):
  *  - expression ids `#123` -> `#x` (fresh per analysis)
  *  - exchange/subquery coordinator ids `[id=#123]` -> `[id=#x]`
  *  - `plan_id=123` -> `plan_id=x`
  *  - absolute paths under /tmp (memoized media renders) -> /tmp/X
  *  - the `[numfiles=..., totalsize=...]` statistics suffix varies with
  *    parquet writer details -> dropped
  *
  * Usage: runMain graft.tools.PlanDump [sfDir] [outFile]
  */
object PlanDump {

  private[graft] def normalize(plan: String): String = {
    val base = plan
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("/tmp/[^\\s,\\]\\)]+", "/tmp/X")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      // JVM-run-specific identity: lambda class counters and object
      // hashes (mapPartitions closures in the multimodal plans)
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-fA-F]+@[0-9a-fA-F]+", "\\$\\$Lambda\\$x")
      // checkpointed-RDD scans (clusters' large-star/small-star rounds)
      // carry the JVM-global RDD counter — run-specific identity
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
      // broadcast-variable ids (centroid/codebook/bloom refs inside
      // kernel arguments) ride the same JVM-global counter: adding one
      // query upstream shifts every later id, which diffed 25 plans in
      // r12 with zero plan changes
      .replaceAll("[Bb]roadcast\\(id=\\d+\\)", "broadcast(id=x)")
      .replaceAll("Broadcast\\(\\d+\\)", "Broadcast(x)")
      // localCheckpoint RDD scans name their creation SITE — a source
      // LINE NUMBER, which shifts whenever unrelated code above moves
      // (r16: every checkpointed plan diffed after an insert-only edit)
      .replaceAll("\\.scala:\\d+", ".scala:x")
      // lambda-variable names carry a JVM-global counter (lambda
      // x_21#x): adding one query upstream renames every later
      // higher-order-function argument with zero plan change
      .replaceAll("lambda ([A-Za-z]+)_\\d+#", "lambda $1_n#")
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "uuid")
    // stateful-operator state info: per-run UUID + epoch-millis stamps.
    // The batchTimestampMs rides on the same line as the `state info
    // [...]` block, so the 13-digit rewrite is scoped to those lines —
    // a genuine 13-digit query constant elsewhere (e.g. an epoch-base
    // literal) must keep diffing, or a changed constant would hide.
    // One line can carry SEVERAL run-specific epochs (a nonzero
    // event-time watermark next to batchTimestampMs), so the anchored
    // rewrite — one match per line per pass — loops to fixpoint.
    var prev: String = null
    var cur = base
    while (cur != prev) {
      prev = cur
      cur = cur.replaceAll("(?m)^(.*state info \\[[^\\n]*?)\\b\\d{13}\\b", "$1ts")
    }
    cur
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local()
    // render the media shelves first, so the plans show the
    // steady-state scan of each memoized shelf
    graft.operators.Multimodal.renderShelves(spark, sfDir, SparkEntry.queries.keys)
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plan per query (normalized)\n\n"
    sb ++= s"Generated by `runMain graft.tools.PlanDump $sfDir`. Expression\n"
    sb ++= "ids, coordinator ids, temp paths, and statistics are normalized\n"
    sb ++= "so a re-run diffs clean; any other diff is a plan REGRESSION\n"
    sb ++= "(or a deliberate change) and should be reviewed as such.\n\n"
    sb ++= "Known benign variance: Spark's multi-count-distinct rewrite\n"
    sb ++= "(RewriteDistinctAggregates — q_distinct here) assigns its Expand\n"
    sb ++= "projections in an exprId-dependent order, so a diff that ONLY\n"
    sb ++= "permutes equivalent attributes inside that query's Expand/\n"
    sb ++= "HashAggregate/Exchange blocks is run-to-run noise, not a\n"
    sb ++= "regression (deliberately NOT canonicalized away: sorting\n"
    sb ++= "attribute lists would also hide real ordering regressions,\n"
    sb ++= "e.g. in sort keys).\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try normalize(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        catch { case scala.util.control.NonFatal(e) => s"ERROR: ${e.getMessage}" }
      sb ++= s"\n## $name\n\n```\n$plan```\n"
      println(s"[plandump] $name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.result())
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
