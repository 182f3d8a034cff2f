package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.llm.RecallMetrics

/**
 * Emits the measured ANN recalls (the numbers behind `AnnRecallSpec`'s CI
 * floors) as `bench/RECALL.json` — a TRACKED per-round artifact, so a
 * retrieval-quality regression is visible from round artifacts alone
 * without running the test suite. Exact-replay oracles can't see recall;
 * this artifact is the quality dimension's BENCH_LOCAL.json.
 *
 * Usage: `sbt "runMain graft.tools.RecallReport [sfDir] [outPath]"`.
 */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outPath = args.lift(1).getOrElse("bench/RECALL.json")
    val spark = GraftSession()

    // the same measurements AnnRecallSpec gates on, at registered params
    val lsh = RecallMetrics.lshRecallAt5(spark, sfDir)
    val lshSingle = RecallMetrics.lshRecallAt5(spark, sfDir, nPlanes = 12, nTables = 1)
    val ivf2 = RecallMetrics.ivfRecallAt5(spark, sfDir, nProbe = 2)
    val ivfAll = RecallMetrics.ivfRecallAt5(spark, sfDir, nProbe = 8)
    val planted1 = RecallMetrics.plantedPairRecall(spark, nTables = 1)
    val planted8 = RecallMetrics.plantedPairRecall(spark, nTables = 8)
    val knn1 = RecallMetrics.knnRank1Recall(spark)
    val bitext = RecallMetrics.bitextPairRecall(spark, nTables = 8)

    val json =
      s"""{
         |  "sf_dir": "$sfDir",
         |  "written_at": "${java.time.Instant.now()}",
         |  "metrics": {
         |    "lsh_recall_at5": {"value": ${f"$lsh%.4f"}, "floor": 0.85, "params": "k=5 nPlanes=6 nTables=8, 16 queries"},
         |    "lsh_single_table_recall_at5": {"value": ${f"$lshSingle%.4f"}, "ceiling": 0.5, "params": "k=5 nPlanes=12 nTables=1 (kept BAD on purpose: proves the fixture discriminates amplification)"},
         |    "ivf_recall_at5_nprobe2": {"value": ${f"$ivf2%.4f"}, "floor": 0.70, "params": "8 first-k cells, nProbe=2, 8 queries"},
         |    "ivf_recall_at5_nprobe_all": {"value": ${f"$ivfAll%.4f"}, "floor": 1.0, "params": "nProbe=cells is exhaustive, must be exactly 1.0"},
         |    "planted_pair_recall_1table": {"value": ${f"$planted1%.4f"}, "params": "embeddingNearDups, cosine>=0.9 planted twins, nPlanes=8 nTables=1"},
         |    "planted_pair_recall_8tables": {"value": ${f"$planted8%.4f"}, "floor": 0.85, "params": "embeddingNearDups, nPlanes=8 nTables=8"},
         |    "knn_rank1_partner_recall": {"value": ${f"$knn1%.4f"}, "floor": 0.85, "params": "lshKnnJoin k=1, nPlanes=8 nTables=8"},
         |    "bitext_pair_recall_vs_exact": {"value": ${f"$bitext%.4f"}, "floor": 0.85, "params": "marginBitextMineLsh vs exact marginBitextMine, parity sides, nPlanes=8 nTables=8 (the registered l84 candidate path)"}
         |  },
         |  "note": "floors are asserted by AnnRecallSpec in CI; this artifact mirrors them per round"
         |}""".stripMargin
    val p = Paths.get(outPath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
