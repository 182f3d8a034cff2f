package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/**
 * Dev utility: drives library modules end-to-end on the synthetic testdata
 * from the command line. Usage:
 *   sbt "runMain graft.tools.Drive <task> [sfDir]"
 * Tasks: normalize, infer
 */
object Drive {
  def main(args: Array[String]): Unit = {
    val task  = args.headOption.getOrElse("normalize")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession()
    import spark.implicits._

    task match {
      case "normalize" =>
        // Drive Normalize over a real table plus adversarial literals.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val adversarial = Seq("na", "N/A", "--", "Yes", "no", "100.0", "007",
          "[Not Available]", " padded ", "0.001", null).toDF("lang")
          .withColumn("doc_id", lit(-1L)).withColumn("source", lit("probe"))
        val unioned = docs.select($"doc_id", $"lang", $"source")
          .unionByName(adversarial.select($"doc_id", $"lang", $"source"))
        val out = graft.normalize.Normalize.normalizeStringColumns(unioned)
        println("=== normalized sample (adversarial rows) ===")
        out.filter($"doc_id" === -1L).show(20, truncate = false)
        println(s"rows in=${unioned.count()} out=${out.count()}")
        println("=== distinct normalized lang on real data ===")
        out.filter($"doc_id" =!= -1L).groupBy("lang").count().orderBy(desc("count")).show(10)

      case "infer" =>
        // One-pass distributed type inference (native TypeSetAgg — no UDF,
        // no data collect; sampled like the reference's sample_interval).
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select($"l_quantity".cast("string"), $"l_extendedprice".cast("string"),
                  $"l_returnflag", $"l_shipdate".cast("string"))
        graft.io.SchemaInfer.inferColumnTypes(li, sampleFraction = 0.5).foreach {
          case (c, resolved) =>
            println(s"$c: resolved=$resolved spark=${graft.types.BqType.toSpark(resolved)}")
        }

      case "simhashfloor" =>
        // Measure the empirical token-Jaccard floor of the l7 SimHash
        // near-dup output — the evidence behind DedupAudit.simhashAudit's
        // 1/10 soundness floor (run at every SF before moving it).
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val pairs = graft.llm.Dedup.simhashNearDups(docs, "text", "doc_id")
        val toks = docs.select($"doc_id".as("sid"),
          array_distinct(graft.llm.TextOps.whitespaceTokens(lower($"text"))).as("tk"))
        pairs
          .join(toks, $"id1" === $"sid").withColumnRenamed("tk", "tk1").drop("sid")
          .join(toks, $"id2" === $"sid").withColumnRenamed("tk", "tk2").drop("sid")
          .select((size(array_intersect($"tk1", $"tk2")) /
            size(array_union($"tk1", $"tk2"))).as("tok_jaccard"))
          .agg(count(lit(1)).as("n_pairs"), min($"tok_jaccard").as("min_j"),
            expr("percentile(tok_jaccard, 0.05)").as("p05"))
          .show(false)

      case other => sys.error(s"unknown task $other")
    }
    spark.stop()
  }
}
