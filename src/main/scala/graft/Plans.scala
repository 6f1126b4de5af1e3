package graft
import java.nio.file.{Files, Paths}
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.get()
    val dir = "/root/testdata/sf0.01"
    // the FULL declared surface (VERDICT r6 item 4): every registered
    // query gets a dumped plan, so a human can audit shuffle/join/scan
    // shape without re-running anything. Memoized intermediates are NOT
    // reset between queries — the dump reflects a live session, where
    // shared frames (co-purchase edges, shingle sets, …) appear as
    // InMemoryRelation reuse exactly as they do for a real user.
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append(s"# Physical plans (sf0.01, ${spark.sparkContext.master}, AQE final plans)\n\n")
    sb.append(s"Generated by `graft.Plans` over all ${keys.size} registered queries; " +
      "regenerate after plan-affecting changes.\n")
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // keep the tree section only (details are verbose); iterative
      // queries re-print each persisted generation's full lineage
      // recursively (q98's 4 rounds dump ~2.7 MB of repeated
      // InMemoryRelation subtrees), so cap a section at 200 lines
      val full = p.split("\n\n").take(2).mkString("\n\n")
      val lines = full.linesIterator.toSeq
      val tree = if (lines.size <= 200) full
        else (lines.take(200) :+ s"… truncated (${lines.size} lines)").mkString("\n")
      sb.append(s"\n## $k\n\n```\n$tree\n```\n")
    }
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    spark.stop()
  }
}
