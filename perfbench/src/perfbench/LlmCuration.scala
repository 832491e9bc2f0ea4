package perfbench

import java.nio.file.Path

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.model.{File, Table}
import graft.ops.{LoadFile, QualityRules, TableIO}
import graft.similarity.Ann
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** The LLM-data operators: text kernels, exact / near / substring /
  * semantic dedup, and IVF search, over a corpus with planted duplicates
  * and clustered embeddings with planted near-twins.
  */
object LlmCuration extends Workload {
  val name = "llm_curation"

  private val Docs         = 500
  private val ExactCopies  = 30
  private val NearCopies   = 30
  private val Passages     = 8
  private val Carriers     = 3 // documents sharing each passage
  private val Vectors      = 2000
  private val Twins        = 30
  private val Queries      = 128
  private val Dim          = 64
  private val Clusters     = 16
  private val K            = 10
  private val Stopwords    = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "for")

  private final case class Truth(
      text: Map[Long, String],
      exactCopies: Set[Long],
      nearPairs: Seq[(Long, Long)],
      carriers: Map[Long, String],  // carrier doc -> a 50-char slice of its passage
      twinPairs: Seq[(Long, Long)],
      exactTopK: Map[Long, Set[Long]])
  @volatile private var truth: Truth = _

  def generate(spark: SparkSession, dir: Path, seed: Long): Long = {
    val r = new Random(seed * 104729L + 3)
    val vocab = {
      val s = mutable.LinkedHashSet[String]()
      while (s.size < 6000) s += (1 to 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      s.toVector
    }
    def word(): String = if (r.nextDouble() < 0.25) Stopwords(r.nextInt(Stopwords.size)) else vocab(r.nextInt(vocab.size))
    val words = mutable.LinkedHashMap[Long, Vector[String]]()
    (1 to Docs).foreach(i => words(i.toLong) = Vector.fill(30 + r.nextInt(49))(word()))
    val picks = r.shuffle((1L to Docs.toLong).toVector).iterator
    val exact = (1 to ExactCopies).map { j =>
      val src = picks.next(); val id = (Docs + j).toLong; words(id) = words(src); id
    }.toSet
    val near = (1 to NearCopies).map { j =>
      val src = picks.next(); val id = (Docs + ExactCopies + j).toLong
      // 3% of the words (at least one) replaced by other words, at distinct
      // positions: for 30 to 78 words that keeps a word-3-shingle Jaccard of
      // at least 0.8 with the source, above the near dedup's 0.7 threshold.
      val w = words(src)
      val at = r.shuffle(w.indices.toVector).take(math.max(1, w.size * 3 / 100))
      words(id) = at.foldLeft(w) { (acc, i) =>
        acc.updated(i, Iterator.continually(vocab(r.nextInt(vocab.size))).dropWhile(_ == w(i)).next())
      }
      (src, id)
    }
    val carriers = (1 to Passages).flatMap { _ =>
      val passage = Vector.fill(45)(vocab(r.nextInt(vocab.size)))
      val text    = passage.mkString(" ")
      val slice   = text.substring(text.length / 2 - 25, text.length / 2 + 25)
      (1 to Carriers).map { _ =>
        val id = picks.next(); val w = words(id); val at = r.nextInt(w.size)
        words(id) = (w.take(at) ++ passage ++ w.drop(at))
        id -> slice
      }
    }.toMap
    val text = words.map { case (id, w) => id -> w.mkString(" ") }.toMap

    def gauss(scale: Double): Array[Float] = Array.fill(Dim)((r.nextGaussian() * scale).toFloat)
    def plus(a: Array[Float], b: Array[Float]): Array[Float] = a.zip(b).map { case (x, y) => x + y }
    val centers = Vector.fill(Clusters) {
      val g = gauss(1.0); val n = math.sqrt(g.map(x => x.toDouble * x).sum); g.map(x => (x / n).toFloat)
    }
    val vecs = mutable.LinkedHashMap[Long, Array[Float]]()
    (1 to Vectors).foreach(i => vecs(i.toLong) = plus(centers(r.nextInt(Clusters)), gauss(0.0625)))
    val twins = (1 to Twins).map { j =>
      val src = 1L + r.nextInt(Vectors); val id = (Vectors + j).toLong
      vecs(id) = plus(vecs(src), gauss(0.0025)); (src, id)
    }
    val queries = (1 to Queries).map(q => q.toLong -> plus(centers(r.nextInt(Clusters)), gauss(0.0625)))
    val exactTopK = queries.map { case (q, v) =>
      q -> vecs.toSeq.map { case (id, x) => (Gen.cosine(v, x), id) }.sortBy(-_._1).take(K).map(_._2).toSet
    }.toMap

    Gen.parquet(spark, dir.resolve("docs.parquet"),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      text.toSeq.sortBy(_._1).map { case (id, t) => Row(id, t) }, 4)
    val vecSchema = (id: String) =>
      StructType(Seq(StructField(id, LongType), StructField("vec", ArrayType(FloatType, containsNull = false))))
    Gen.parquet(spark, dir.resolve("embeddings.parquet"), vecSchema("emb_id"),
      vecs.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 4)
    Gen.parquet(spark, dir.resolve("queries.parquet"), vecSchema("query_id"),
      queries.map { case (id, v) => Row(id, v.toSeq) }, 1)

    truth = Truth(text, exact, near, carriers, twins, exactTopK)
    (text.size + vecs.size + queries.size).toLong
  }

  private def write(df: DataFrame, table: String): Unit =
    TableIO.overwrite(df.sparkSession, df, Table(table))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def t(name: String) = spark.table(name)
    def load(n: String) = LoadFile.toDataFrame(spark, File(ctx.input(s"$n.parquet")))
    ctx.step("text_features", "functions") {
      write(load("docs").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("token_count"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"),
        TextFunctions.langId(col("text")).as("lang")), "doc_features")
    }
    ctx.step("quality_flags", "functions") {
      write(QualityRules.gopherFlags(load("docs"), "doc_id", "text"), "doc_quality")
    }
    ctx.step("dedup_exact", "dedup") {
      write(Dedup.exact(load("docs"), "text", "doc_id"), "docs_exact")
    }
    ctx.step("dedup_near", "dedup") {
      write(Dedup.dedupNearKeepBest(t("docs_exact"), "doc_id", "text", Seq(length(col("text")).desc)),
        "docs_near")
    }
    ctx.step("dedup_substring", "dedup") {
      write(Dedup.removeSharedSubstrings(t("docs_near"), "doc_id", "text", minLen = 50, winnowWindow = 8),
        "docs_clean")
    }
    ctx.step("dedup_semantic", "dedup") {
      write(Dedup.semanticDedup(load("embeddings"), "emb_id", "vec", threshold = 0.95,
        numCentroids = Clusters), "embeddings_dedup")
    }
    ctx.step("ann_build_index", "similarity") {
      Ann.buildIvfIndex(spark, load("embeddings"), "emb_id", "vec", Table("ivf_index"),
        Table("ivf_centroids"), numCentroids = Clusters, numBuckets = 4)
    }
    ctx.step("ann_query", "similarity") {
      write(Ann.queryIvfIndex(spark, Table("ivf_index"), Table("ivf_centroids"), load("queries"),
        "query_id", "vec", k = K, nprobe = 4), "ann_topk")
    }
    ctx.step("knn_join", "similarity") {
      write(Ann.knnJoin(load("queries"), load("embeddings"), "query_id", "vec", "emb_id", "vec", k = K,
        numCentroids = Clusters, nprobe = 4), "knn_topk")
    }
  }

  def check(ctx: Ctx): Verdict = {
    val spark = ctx.spark
    val tr    = truth
    val c     = new Checker
    def ids(table: String, idCol: String = "doc_id") = Gen.ids(spark, table, idCol)

    val feats = Gen.attempt(spark.table("doc_features").select("doc_id", "token_count", "fingerprint")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap).getOrElse(Map.empty)
    c.expect("text_features", feats.size == tr.text.size && tr.text.forall { case (id, s) =>
      feats.get(id).contains((s.split(' ').length, md5(s)))
    }, "token counts or fingerprints differ from the generator")
    val quality = Gen.attempt(spark.table("doc_quality").select("doc_id", "n_words").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    c.expect("quality_flags", quality.size == tr.text.size && tr.text.forall { case (id, s) =>
      quality.get(id).contains(s.split(' ').length.toLong)
    }, "word counts differ from the generator")

    val all   = tr.text.keySet
    val exact = ids("docs_exact")
    val copies = tr.text.toSeq.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => g.map(_._1).sorted.sliding(2).map { case Seq(a, b) => (a, b) }).toSeq
    c.dedup("dedup_exact", all, exact, copies)
    c.expect("dedup_exact", all -- exact == tr.exactCopies, "exact dedup kept or dropped the wrong rows")
    val near = ids("docs_near")
    c.dedup("dedup_near", exact, near, tr.nearPairs)

    val clean = Gen.attempt(spark.table("docs_clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap).getOrElse(Map.empty[Long, String])
    val plantedNear = tr.nearPairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val cut         = tr.carriers.count { case (id, slice) => clean.get(id).exists(t => !t.contains(slice)) }
    val changed     = clean.count { case (id, t) => tr.text.get(id).exists(_ != t) }
    val untouched   = clean.keySet -- tr.carriers.keySet -- plantedNear
    c.found += cut; c.planted += tr.carriers.size
    c.expect("dedup_substring", clean.keySet == near && untouched.forall(id => clean(id) == tr.text(id)) &&
      cut >= 0.9 * tr.carriers.size, s"cut $cut of ${tr.carriers.size} carriers or changed unshared text")
    c.facts("dedup_substring") = Map("useful" -> changed.toDouble)

    val vecIds = (1L to (Vectors + Twins).toLong).toSet
    c.dedup("dedup_semantic", vecIds, ids("embeddings_dedup", "emb_id"), tr.twinPairs)

    def topK(step: String, table: String): Unit = {
      val got = Gen.attempt(spark.table(table).select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
        .getOrElse(Map.empty)
      val agree = tr.exactTopK.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size }.sum
      val total = tr.exactTopK.size * K
      c.found += agree; c.planted += total
      c.expect(step, agree >= 0.8 * total, s"top-$K agreement $agree of $total")
      c.facts(step) = Map("result_rows" -> got.values.map(_.size).sum.toDouble)
    }
    topK("ann_query", "ann_topk")
    topK("knn_join", "knn_topk")
    c.expect("ann_build_index", Gen.attempt(spark.table("ivf_index").count()).contains(vecIds.size.toLong),
      "index row count differs from the corpus")
    c.facts("ann_build_index") = Map("index_bytes" ->
      Gen.sizeOf(ctx.out.getParent.resolve("warehouse").resolve("ivf_index")).toDouble)
    c.verdict
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
