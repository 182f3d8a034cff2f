package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Registry

/** What one run knows about its inputs and where it may write. */
final class Ctx(val spark: SparkSession, val data: String, val out: String,
                val seed: Long, val changeBp: Int) {
  def path(parts: String*): String = (out +: parts).mkString("/")

  /** While set, every step boundary records the heap in [[heapMb]]. */
  var heapProbe = false
  val heapMb = ArrayBuffer.empty[Double]

  /** Records the old-generation megabytes in use after a full collection,
    * while the step's cached and checkpointed blocks are still held. The
    * wait and second collection let Spark's context cleaner drop the
    * broadcasts and shuffles of finished queries first, which the first
    * collection only released; without them the reading moved by 130 MB
    * between seeds. */
  def sampleHeap(): Unit = if (heapProbe) {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapMb += ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** One benchmark workload: a closed loop of steps, each waiting for the last. */
trait Workload {
  /** Input tables registered as temp views during set-up. */
  def tables: Seq[String]
  /** Untimed work before each pass (fresh output roots). */
  def beforePass(ctx: Ctx, pass: Int): Unit = ()
  /** One pass: every step once, in order. */
  def pass(ctx: Ctx, tr: Tracer): Unit
  /** The outputs of the last pass, with what each must equal (JSON list). */
  def checks(ctx: Ctx): Seq[String]

  protected def run(tr: Tracer, ctx: Ctx, name: String, module: String)
                   (body: Phases => Unit): Unit = {
    tr.step(name, module)(body)
    ctx.sampleHeap()
    Workload.clearPersisted(ctx.spark)
  }

  protected def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  protected def tableCheck(step: String, path: String, oracle: String,
                           extra: (String, String)*): String =
    Json.obj(Seq("kind" -> Json.str("table"), "step" -> Json.str(step),
      "path" -> Json.str(path), "oracle" -> Json.str(oracle)) ++ extra: _*)
}

object Workload {
  /** Drops every cached and checkpointed block, as graft.Bench does after
    * each query: steps are independent, so nothing is reused. */
  def clearPersisted(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  def byName(name: String): Workload = name match {
    case "genomics_release" => GenomicsRelease
    case "corpus_curation"  => CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/**
 * The reference job: build the release tables, infer their load schema,
 * export them, diff each against the previous release and publish the ones
 * that changed.
 */
object GenomicsRelease extends Workload {
  /** Registry row → the module whose public function builds it. */
  val builds: Seq[(String, String)] = Seq(
    "c11_rna_seq_build" -> "pipelines",
    "c1_clinical_flatten" -> "clinical")

  def tables: Seq[String] = Seq("customer", "orders", "lineitem")

  /** The release left unchanged, so the publish gate skips it. Fixed, so
    * that every seed does the same publish work. */
  val unchanged = "c1_clinical_flatten"

  private var published = Map.empty[String, graft.publish.Publish.PublishResult]
  private var inferred = Map.empty[String, Seq[(String, String)]]
  private var passNo = 0

  private def pubRoot(ctx: Ctx, pass: Int) = ctx.path("publish", s"pass$pass")

  /**
   * The previous release: the new build with a seeded `changeBp` basis
   * points of rows missing and as many again with their last column
   * altered. Derived once, from the first warm-up pass's build, and put in
   * place as version 1 for that pass's publish step.
   */
  private def derivePrevious(ctx: Ctx, t: String): Unit = {
    val prev = new File(ctx.path("prev", t))
    if (prev.exists()) return
    val cur = ctx.spark.read.parquet(ctx.path("stage", t))
    val df = if (t == unchanged) cur else {
      val h = pmod(xxhash64(cur.columns.map(col).toIndexedSeq :+ lit(ctx.seed): _*), lit(10000L))
      val last = cur.schema.last
      val altered = last.dataType match {
        case StringType => concat(col(last.name), lit("~prev"))
        case _          => (col(last.name) + 1).cast(last.dataType)
      }
      cur.filter(h >= ctx.changeBp)
        .withColumn(last.name, when(h < 2 * ctx.changeBp, altered).otherwise(col(last.name)))
    }
    df.write.parquet(prev.getPath)
    linkPrevious(ctx, t)
  }

  /** Puts the previous release of `t` into this pass's publish root as
    * version 1 (hard links, so this costs no copy). */
  private def linkPrevious(ctx: Ctx, t: String): Unit = {
    val dst = new File(pubRoot(ctx, passNo), s"${t}_v1")
    dst.mkdirs()
    new File(ctx.path("prev", t)).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.createLink(new File(dst, f.getName).toPath, f.toPath))
  }

  /** Each pass publishes into a fresh root that holds the previous release
    * as version 1. */
  override def beforePass(ctx: Ctx, pass: Int): Unit = {
    Workload.rm(new File(pubRoot(ctx, pass - 1)))
    passNo = pass
    for ((t, _) <- builds if new File(ctx.path("prev", t)).exists()) linkPrevious(ctx, t)
  }

  def pass(ctx: Ctx, tr: Tracer): Unit = {
    val spark = ctx.spark
    val pubs = mutable.LinkedHashMap.empty[String, graft.publish.Publish.PublishResult]
    val types = mutable.LinkedHashMap.empty[String, Seq[(String, String)]]
    for ((t, module) <- builds) {
      val staged = ctx.path("stage", t)
      run(tr, ctx, s"build:$t", module) { ph =>
        val df = ph.build(Registry.queries(t)(spark, ctx.data))
        ph.plan(df)
        ph.exec(writeParquet(df, staged))
      }
      derivePrevious(ctx, t)

      run(tr, ctx, s"types:$t", "types") { ph =>
        val df = ph.build {
          val cur = spark.read.parquet(staged)
          val strs = graft.normalize.Normalize.normalizeStringColumns(
            cur.select(cur.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*))
          val aggs = strs.columns.map(c => graft.types.TypeSetAgg.typeSet(spark, c).as(c))
          strs.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
        }
        ph.plan(df)
        types(t) = ph.exec {
          val row = df.collect()(0)
          df.columns.toSeq.zipWithIndex.map { case (c, i) =>
            c -> graft.types.TypeInference.resolveTypeConflict(c,
              row.getSeq[String](i).map(graft.types.BqType.fromName).toSet).name
          }
        }
      }

      run(tr, ctx, s"io:$t", "io") { ph =>
        val df = ph.build(spark.read.parquet(staged))
        ph.plan(df)
        ph.exec(graft.io.Io.writeJsonl(df, ctx.path("jsonl", t)))
      }

      run(tr, ctx, s"diff:$t", "ops") { ph =>
        val df = ph.build {
          val cur = spark.read.parquet(staged)
          graft.ops.Diff.symmetricDiff(spark.read.parquet(ctx.path("prev", t)), cur)
        }
        ph.plan(df)
        ph.exec(writeParquet(df, ctx.path("diff", t)))
      }

      run(tr, ctx, s"publish:$t", "publish") { ph =>
        pubs(t) = ph.build(graft.publish.Publish.publish(
          spark, spark.read.parquet(staged), pubRoot(ctx, passNo), t))
      }
    }
    published = pubs.toMap
    inferred = types.toMap
  }

  def checks(ctx: Ctx): Seq[String] = builds.flatMap { case (t, _) =>
    val oracle = Registry.oracleSql(t)
    val pub = published(t)
    Seq(
      tableCheck(s"build:$t", ctx.path("stage", t), oracle),
      Json.obj("kind" -> Json.str("types"), "step" -> Json.str(s"types:$t"),
        "oracle" -> Json.str(oracle),
        "types" -> Json.obj(inferred(t).map { case (c, ty) => c -> Json.str(ty) }: _*)),
      Json.obj("kind" -> Json.str("jsonl"), "step" -> Json.str(s"io:$t"),
        "path" -> Json.str(ctx.path("jsonl", t)), "oracle" -> Json.str(oracle)),
      Json.obj("kind" -> Json.str("diff"), "step" -> Json.str(s"diff:$t"),
        "path" -> Json.str(ctx.path("diff", t)), "prev" -> Json.str(ctx.path("prev", t)),
        "oracle" -> Json.str(oracle)),
      Json.obj("kind" -> Json.str("publish"), "step" -> Json.str(s"publish:$t"),
        "published" -> pub.published.toString, "version" -> pub.version.toString,
        "expect_published" -> (t != unchanged).toString,
        "path" -> Json.str(s"${pubRoot(ctx, passNo)}/${t}_current"),
        "oracle" -> Json.str(oracle)))
  }
}

/**
 * The LLM-data curation pipeline over the documents table. The dedup stage
 * runs through the SQL surface, as a SQL-only user drives it (`graft_*`
 * table functions over a view; module `sql`); every other stage calls the
 * llm module directly. Each stage's result is written as a table.
 */
object CorpusCuration extends Workload {
  final case class Stmt(row: String, sql: String, setup: Seq[String] = Nil)

  /** A curation stage: a registry row called directly, or a SQL statement. */
  private val stages: Seq[Either[String, Stmt]] = Seq(
    Right(Stmt("l1_exact_dedup",
      "SELECT * FROM graft_exact_dedup('sql_l1_pre', 'prefix', 'doc_id')",
      Seq("""CREATE OR REPLACE TEMP VIEW sql_l1_pre AS
            |SELECT doc_id,
            |  array_join(slice(split(trim(text), '\\s+'), 1, 5), ' ') AS prefix
            |FROM documents""".stripMargin))),
    Right(Stmt("l5p_minhash_lsh_pairs_portable",
      "SELECT * FROM graft_minhash_pairs_portable('documents', 'text', 'doc_id', 3, 32, 16)")),
    Left("l13_neardup_clusters"),
    Right(Stmt("l6p_ngram_jaccard_neardups_portable",
      "SELECT * FROM graft_near_dup_pairs_portable('documents', 'text', 'doc_id', 5000, 3, 32, 16)")),
    Left("l4_quality_score"),
    Left("l3_lang_id"),
    Left("l43_bigram_surprisal"),
    Left("l86_bloom_decontaminate"),
    Left("l21_bpe_encode"),
    Left("l118_wordpiece_encode"))

  private def row(stage: Either[String, Stmt]): String = stage.fold(identity, _.row)

  def tables: Seq[String] = Seq("documents")

  def pass(ctx: Ctx, tr: Tracer): Unit =
    for (stage <- stages) {
      val out = ctx.path("steps", row(stage))
      stage match {
        case Left(r) => run(tr, ctx, s"llm:$r", "llm") { ph =>
          val df = ph.build(Registry.queries(r)(ctx.spark, ctx.data))
          ph.plan(df)
          ph.exec(writeParquet(df, out))
        }
        case Right(st) =>
          for (v <- st.setup) run(tr, ctx, s"view:${st.row}", "sql") { ph =>
            ph.build(ctx.spark.sql(v))
          }
          run(tr, ctx, s"sql:${st.row}", "sql") { ph =>
            val df = ph.build(ctx.spark.sql(st.sql))
            ph.plan(df)
            ph.exec(writeParquet(df, out))
          }
      }
    }

  /** Columns compared within a tolerance: DuckDB's round(x, 6) scales the
    * double by 10^6 before rounding, so a value just below a tie of the
    * sixth decimal (0.53756249999999994) rounds up there (0.537563) and
    * down in Spark, which rounds the double's decimal form (0.537562). */
  private val approx = Map("l4_quality_score" -> ("quality", 1e-6))

  def checks(ctx: Ctx): Seq[String] = stages.map { stage =>
    val r = row(stage)
    val extra = approx.get(r).toSeq.flatMap { case (c, tol) =>
      Seq("approx" -> Json.str(c), "tol" -> Json.num(tol)) }
    tableCheck(s"curate:$r", ctx.path("steps", r), Registry.oracleSql(r), extra: _*)
  }
}
