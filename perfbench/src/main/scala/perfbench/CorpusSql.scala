package perfbench

import graft.llm.{Dedup, SemanticDedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.immutable.ListMap

/** LLM-corpus curation and analyst SQL over one generated data set.
  *
  * One pass runs the five dedup kernels on a planted corpus, in the
  * order a curation pipeline runs them (exact, MinHash-LSH, clusters
  * over the LSH pairs, SimHash pairs, semantic dedup over embeddings),
  * then a fixed subset of the declarative queries of `SparkEntry` in an
  * order shuffled by the seed, each `fn(spark, dir).count()` as
  * `graft.Bench` runs them.
  *
  * Corpus generator: `Docs` documents of 20-60 words over a Zipfian
  * vocabulary of `Vocab` words; `Groups` planted near-duplicate groups
  * whose sizes follow a Zipf law (each member a copy of the group's
  * base with 1-2 words of its second half replaced, one in five an
  * exact copy), and one hot group of `HotGroup` near-identical docs
  * (one word replaced each), the hot band key of a duplicate-heavy
  * corpus. Embeddings: `Vectors` 64-dim vectors around `VecClusters`
  * Gaussian centroids, `VecDupShare` of them near-copies of another.
  * The SQL tables come from the repository's generator with the seed
  * (see run.py), at a scale where per-query overhead dominates.
  */
final class CorpusSql(sfDir: String) extends Workload {
  import CorpusSql._

  private val kernels = Seq("llm.exact", "llm.minhash_lsh", "llm.clusters",
    "llm.simhash_pairs", "llm.semantic_dedup")
  private var queries: Seq[String] = Nil
  override def passLength: Int = kernels.size + queries.size

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var pairsPath = ""
  private var groupOf: Array[Int] = Array.empty
  private var plantedPairs = 0L
  private var distinctTexts = 0L
  private var vecDupOf: Map[Long, Long] = Map.empty
  // the latest results of the exact and semantic kernels, for checks
  private var exactGroups = -1L
  private var semanticDropped: Set[Long] = Set.empty

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rng = ctx.rng
    queries = {
      val all = graft.SparkEntry.queries.keySet
      val missing = Queries.filterNot(q => all(q) && graft.SparkEntry.oracleSql.contains(q))
      require(missing.isEmpty, s"queries without an entry or oracle: $missing")
      scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.seed)).shuffle(Queries)
    }

    // ---- planted corpus ----
    val cdf = {
      val w = (1 to Vocab).map(r => 1.0 / math.pow(r + 2.7, 1.07))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      f"w${if (i >= 0) i else math.min(-i - 1, Vocab - 1)}%04d"
    }
    def fresh(): Array[String] = Array.fill(20 + rng.nextInt(41))(word())
    def mutate(base: Array[String], m: Int): Array[String] = {
      val w = base.clone()
      (0 until m).foreach(_ => w(w.length / 2 + rng.nextInt(w.length - w.length / 2)) = f"x${rng.nextInt(Vocab)}%04d")
      w
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val groups = mutable.ArrayBuffer.empty[Int]
    def plant(g: Int, size: Int, edits: => Int): Unit = {
      val base = fresh()
      (0 until size).foreach { k =>
        texts += (if (k == 0) base else mutate(base, edits)).mkString(" ")
        groups += g
      }
      plantedPairs += size.toLong * (size - 1) / 2
    }
    plant(0, HotGroup, 1)
    (1 to Groups).foreach { g =>
      val size = math.min(MaxGroup, 1 + math.floor(math.pow(1 - rng.nextDouble(), -1.0 / 1.2)).toInt)
      plant(g, size, if (rng.nextDouble() < 0.2) 0 else 1 + rng.nextInt(2))
    }
    while (texts.size < Docs) { texts += fresh().mkString(" "); groups += -1 }
    // shuffled ids: planted groups are not contiguous in id order
    val ids = scala.util.Random.javaRandomToRandom(rng).shuffle((0 until texts.size).toVector)
    groupOf = new Array[Int](texts.size)
    ids.indices.foreach(k => groupOf(ids(k)) = groups(k))
    distinctTexts = texts.distinct.size.toLong
    val corpusDir = ctx.dir("corpus")
    spark.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(k => Row(ids(k).toLong, texts(k))): _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .repartition(4).write.parquet(s"$corpusDir/documents.parquet")

    // ---- embeddings ----
    val cents = Array.fill(VecClusters, Dim)(rng.nextGaussian().toFloat)
    val vecs = Array.tabulate(Vectors) { _ =>
      val c = cents(rng.nextInt(VecClusters)); Array.tabulate(Dim)(d => c(d) + 0.3f * rng.nextGaussian().toFloat)
    }
    val dupOf = mutable.Map.empty[Long, Long]
    (0 until (Vectors * VecDupShare).toInt).foreach { _ =>
      val dst = Vectors / 2 + rng.nextInt(Vectors / 2)
      val src = rng.nextInt(Vectors / 2)
      if (!dupOf.contains(dst)) {
        vecs(dst) = vecs(src).map(x => x + 0.002f * rng.nextGaussian().toFloat)
        dupOf(dst.toLong) = src.toLong
      }
    }
    vecDupOf = dupOf.toMap
    spark.createDataFrame(
      java.util.Arrays.asList(vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .repartition(4).write.parquet(s"$corpusDir/embeddings.parquet")
    docs = spark.read.parquet(s"$corpusDir/documents.parquet")
    emb = spark.read.parquet(s"$corpusDir/embeddings.parquet")

    // the LSH pairs the cluster kernel consumes, fixed for the run
    pairsPath = s"$corpusDir/pairs.parquet"
    Main.phase("lsh pairs")(minhashPairs().write.parquet(pairsPath))

    // warm-up: every op once (writing the LSH pairs above warmed the
    // MinHash kernel), then every query's result dumped for the oracle
    // compare that run.py makes after the run
    (0 until passLength).filter(k => k >= kernels.size || kernels(k) != "llm.minhash_lsh")
      .foreach(k => Main.phase(s"warm op $k")(op(ctx, k)))
    val dump = ctx.dir("dump")
    queries.foreach { q =>
      Main.phase(s"dump $q")(graft.SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.parquet(s"$dump/$q"))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      Json.render(ListMap(queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*)))
  }

  private def minhashPairs(): DataFrame =
    Dedup.minhashLsh(docs).filter(col("jaccard") >= PairJaccard).select("doc_a", "doc_b")

  def op(ctx: Ctx, i: Int): String = {
    val t = ctx.tracer
    val k = i % passLength
    if (k < kernels.size) {
      val name = kernels(k)
      t.span(name)(name match {
        case "llm.exact" => exactGroups = Dedup.exact(docs).count()
        case "llm.minhash_lsh" =>
          val n = minhashPairs().count()
          if (t.active) ctx.sample("llm.pairs_out", n.toDouble)
          n
        case "llm.clusters" => Dedup.nearDupClusters(ctx.spark.read.parquet(pairsPath)).count()
        case "llm.simhash_pairs" => Dedup.simhashPairs(docs).count()
        case "llm.semantic_dedup" =>
          semanticDropped = SemanticDedup.dedup(emb, SemanticDedup.adaptiveK(Vectors), iters = 1,
            tau = SemanticTau).filter(!col("kept")).select("vec_id").collect().map(_.getLong(0)).toSet
      })
    } else {
      val q = queries(k - kernels.size)
      val fn = graft.SparkEntry.queries(q)
      val df = t.span("queries.build")(fn(ctx.spark, sfDir))
      t.span("queries.exec")(df.count())
    }
    if (k < kernels.size) kernels(k) else queries(k - kernels.size)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val found = ctx.spark.read.parquet(pairsPath).collect().map(r => (r.getLong(0), r.getLong(1)))
    val truePos = found.count { case (a, b) => groupOf(a.toInt) >= 0 && groupOf(a.toInt) == groupOf(b.toInt) }
    val precision = if (found.isEmpty) 0.0 else truePos.toDouble / found.length
    val recall = truePos.toDouble / plantedPairs
    ctx.sample("llm.pair_precision", precision)
    ctx.sample("llm.pair_recall", recall)
    val vecRecall = vecDupOf.keys.count(d => semanticDropped(d) || semanticDropped(vecDupOf(d)))
      .toDouble / vecDupOf.size
    ctx.sample("llm.semantic_dup_recall", vecRecall)
    // reported, not checked: LSH and the IVF blocking are approximate
    ctx.figures("planted_pairs") = (plantedPairs.toDouble, "pairs")
    ctx.figures("lsh_pairs_at_jaccard_0.5") = (found.length.toDouble, "pairs")
    ctx.figures("lsh_pair_precision") = (precision, "ratio")
    ctx.figures("lsh_pair_recall") = (recall, "ratio")
    ctx.figures("semantic_planted_copy_recall") = (vecRecall, "ratio")
    Seq(Check("exact_keeps_distinct_texts", exactGroups == distinctTexts,
      s"$exactGroups groups for $distinctTexts distinct texts"))
  }
}

object CorpusSql {
  val Docs = 6000
  val Vocab = 3000
  val Groups = 300
  val MaxGroup = 40
  val HotGroup = 200
  val PairJaccard = 0.5
  val Vectors = 3000
  val Dim = 64
  val VecClusters = 24
  val VecDupShare = 0.02
  val SemanticTau = 0.98
  /** A short relational query and a heavy LLM one. */
  val Queries = Seq("q01_pricing_summary", "q35_jaccard_pairs")
}
