package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.Kit
import graft.ops._

/** Read-only query mix over the generated tables, in a seeded order. Each
  * op builds the query through `QueryDef.fn`, runs it into the noop sink
  * (`graft.Bench`'s protocol) and drops cached stage tables after it. */
final class QueryMix(spark: SparkSession, inputs: String, work: String,
                     trace: Trace, selftest: Boolean) extends Workload {

  private val registries: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.all, "JoinsSetOps" -> JoinsSetOps.all,
    "Shaping" -> Shaping.all, "TextOps" -> TextOps.all,
    "Similarity" -> Similarity.all, "Pq" -> Pq.all,
    "AnnRouter" -> AnnRouter.all, "AnnIndex" -> AnnIndex.all,
    "Windowed" -> Windowed.all, "Advanced" -> Advanced.all,
    "FuzzyBand" -> FuzzyBand.all, "RangeJoin" -> RangeJoin.all,
    "Clustering" -> Clustering.all, "Curation" -> Curation.all,
    "Components" -> Components.all, "Analytics" -> Analytics.all,
    "PageRank" -> PageRank.all, "TextGate" -> graft.streaming.TextGate.all)

  /** The fastest registered query of each registry whose fastest query
    * runs under ~1 s at sf0.01 on 4 cores, plus `flagship_missing_stats`
    * and the two range-shaped joins; README.md gives the selection and
    * what was left out to fit the run budget. */
  val Mix: Seq[String] = Seq(
    "scan_filter_project", "flagship_missing_stats", "union_distinct",
    "math_kit", "lang_histogram", "multimodal_features", "pq_topk",
    "ann_auto_topk", "sliding_window_counts", "array_kit",
    "interval_overlap_join", "range_join_recent", "kmeans_histogram",
    "stratified_sample", "entropy_by_group", "pit_dimension_join",
    "pagerank_transitions")

  private val registryOf: Map[String, String] =
    registries.flatMap { case (r, ds) => ds.map(_.name -> r) }.toMap

  /** The self-test's planted failures: one op that throws, one whose
    * result disagrees with its oracle SQL. */
  private val planted: Seq[QueryDef] =
    if (!selftest) Nil
    else Seq(
      QueryDef.sql("selftest_throws", "SELECT 1 AS x")((_, _) =>
        throw new IllegalStateException("planted failure")),
      QueryDef.sql("selftest_wrong", "SELECT COUNT(*) AS n FROM region")((s, d) =>
        s.read.parquet(s"$d/region.parquet").agg((count(lit(1)) + 1).as("n"))))

  /** The mix in a seeded order (fixed per input seed, same every pass). */
  val defs: Seq[QueryDef] = {
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    val missing = Mix.filterNot(byName.contains)
    require(missing.isEmpty, s"unregistered queries: ${missing.mkString(",")}")
    val seed = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$inputs/seed")).trim.toLong
    new scala.util.Random(seed).shuffle(Mix.map(byName) ++ planted)
  }

  private def group(d: QueryDef) = registryOf.getOrElse(d.name, "selftest")

  def ops(p: Int): Seq[Op] = defs.map { d =>
    Op(d.name, () =>
      try {
        val df = trace.span("ops.build")(d.fn(spark, inputs))
        trace.span("ops.exec") {
          trace.span(s"ops.${group(d)}.exec")(
            df.write.format("noop").mode("overwrite").save())
        }
      } finally spark.catalog.clearCache())
  }

  /** Every query's result as parquet plus its oracle SQL, for run.py's
    * DuckDB comparison. */
  override def checkPass(): Unit = {
    val sqls = defs.map { d =>
      try d.fn(spark, inputs).write.mode("overwrite").parquet(s"$work/results/${d.name}")
      catch { case scala.util.control.NonFatal(_) => () }
      finally spark.catalog.clearCache()
      d.name -> d.oracle.orNull
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/results/oracle_sql.json"), Json(sqls.toMap))
  }

  /** functions layer: a noop projection of each native expression, and the
    * MinHash/SimHash signatures, over the pass's inputs. */
  override def traceExtras(): Unit =
    trace.span("functions.kernel")(Kernels.run(spark, inputs))
}

/** The functions-layer probe: native expressions over the query tables. */
object Kernels {
  private val ab: Seq[(Long, Long)] = {
    val r = new scala.util.Random(7)
    Seq.fill(64)((1L + r.nextInt(Int.MaxValue - 1), r.nextInt(Int.MaxValue).toLong))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** MinHash, SimHash and fuzzy-band signatures of the documents' shingle
    * sets, Jaro-Winkler over customer names and the int64 dot product over
    * quantized embeddings, each into the noop sink. */
  def run(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val sets = TextOps.shingleSets(spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text"))
    noop(sets.select(Kit.minhashSig($"sset", ab, 2147483647L).as("s"),
      Kit.simhashFp($"sset", 48).as("f"), Kit.fuzzyBandSig($"sset", 4, 4).as("g")))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    noop(cust.select(Kit.jaroWinkler($"c_name", reverse($"c_name")).as("jw")))
    val q = transform($"embedding", x => Kit.quantize(x, 4))
    noop(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(Kit.dotI64(q, q).as("d")))
  }
}
