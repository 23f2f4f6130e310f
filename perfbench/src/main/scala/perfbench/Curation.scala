package perfbench

import graft.operators.{Dedup, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.io.File
import scala.jdk.CollectionConverters._

/** `corpus_curation`: one client running passes of the curation operators
  * over a generated corpus with planted near-duplicates: semantic dedup,
  * embedding near-dup, MinHash near-dup with connected components, BM25
  * retrieval, IVF-PQ nearest neighbours and the quality → mixture → pack
  * pipeline.
  */
final class Curation(spark: SparkSession, root: File, seed: Long, scale: Scale)
    extends Workload {
  val name = "corpus_curation"
  import Curation._

  private val corpus = Gen.corpus(seed, scale.docs, scale.copies, nSources = 8)
  private val vectors = Gen.unitVectors(seed, scale.vectors, Dim)
  private val queryDocs = Gen.distinctIds(seed + 1, scale.docs, scale.queries)
  private val queryVecs = Gen.distinctIds(seed + 2, scale.vectors, scale.queries)
  private var docs: DataFrame = _
  private var embeddings: DataFrame = _
  private var exact: Map[Long, Set[Long]] = Map.empty

  def setup(): Unit = {
    val docRows = corpus.docs.map { case (id, text, lang, src) => Row(id, text, lang, src, text.length.toLong) }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    docs = stage("documents", spark.createDataFrame(docRows.asJava, docSchema))
    val vecRows = vectors.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq, i % 10) }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    embeddings = stage("embeddings", spark.createDataFrame(vecRows.asJava, vecSchema))
    // the exact neighbours of the ANN queries, the recall reference
    exact = Similarity.topKCosine(embeddings, queryVecs, K).collect()
      .groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
  }

  private def stage(name: String, df: DataFrame): DataFrame = {
    val path = new File(root, name).getPath
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private def plantedVectorPairs: Set[(Long, Long)] =
    (0L until scale.vectors).map(i => (i, i + PerturbOffset)).toSet

  def round(ops: Ops, tag: String): Unit = {
    val t = ops.tracer
    val nVec = 2L * scale.vectors

    ops.run("semdedup", write = true, tag) {
      t.call("dedup.semdedup")(Dedup.semDedup(Dedup.withPerturbedCopy(embeddings, Dim, PerturbOffset),
        nCentroids = SemDedupCells).select("id", "group_id").collect())
    } { rows =>
      val group = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Check.equal("semdedup rows", group.size.toLong, nVec)
      val together = plantedVectorPairs.count { case (a, b) => group.get(a).exists(group.get(b).contains) }
      t.note("dedup.semdedup", "found_ratio", together.toDouble / scale.vectors)
      // cells bound the pair search, so a pair split across two cells is a
      // documented miss; merging vectors that are not planted pairs is not
      Check(together >= MinSemDedupFound * scale.vectors,
        s"semdedup grouped $together of ${scale.vectors} planted pairs")
      Check.equal("semdedup groups", group.values.toSet.size.toLong, nVec - together)
      Moved(rowsIn = nVec)
    }

    ops.run("embedding_neardup", write = true, tag) {
      t.call("dedup.embedding_neardup")(Dedup.embeddingNearDup(
        Dedup.withPerturbedCopy(embeddings, Dim, PerturbOffset), dim = Dim)
        .select("a_id", "b_id").collect())
    } { rows =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      t.note("dedup.embedding_neardup", "found_ratio",
        (pairs & plantedVectorPairs).size.toDouble / scale.vectors)
      Check.equal("embedding near-dup pairs", pairs, plantedVectorPairs)
      Moved(rowsIn = nVec)
    }

    var pairs = Array.empty[(Long, Long)]
    ops.run("minhash", write = true, tag) {
      t.call("dedup.minhash")(Dedup.minHashNearDup(docs).select("a_id", "b_id").collect())
    } { rows =>
      pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      t.note("dedup.minhash", "found_ratio",
        (pairs.toSet & corpus.planted.toSet).size.toDouble / corpus.planted.size)
      Check.equal("minhash pairs", pairs.toSet, corpus.planted.toSet)
      Moved(rowsIn = corpus.docs.size)
    }

    ops.run("clusters", write = true, tag) {
      val edges = spark.createDataFrame(pairs.toSeq.map { case (a, b) => Row(a, b) }.asJava,
        StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType))))
      t.call("dedup.clusters")(Dedup.clusters(docs.select(col("doc_id").as("id")), edges).collect())
    } { rows =>
      val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Check.equal("cluster vertices", label.size, corpus.docs.size)
      Check(corpus.planted.forall { case (a, b) => label(a) == a && label(b) == a },
        "a planted pair is not labelled with its smaller id")
      Check.equal("clusters", label.values.toSet.size, corpus.docs.size - corpus.planted.size)
      Moved(rowsIn = corpus.docs.size)
    }

    ops.run("bm25", write = false, tag) {
      val queries = docs.filter(col("doc_id").isin(queryDocs: _*))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      t.call("retrieval.bm25", "queries" -> queryDocs.size.toDouble)(
        Retrieval.bm25TopK(docs, queries, k = K).collect())
    } { rows =>
      checkRanked("bm25", rows, queryDocs, "score_milli")
      Moved(rowsOut = rows.length)
    }

    ops.run("ann", write = false, tag) {
      t.call("similarity.ann", "queries" -> queryVecs.size.toDouble)(
        Similarity.ivfPqTopKCosine(embeddings, queryVecs, k = K, nCentroids = IvfCells,
          nProbe = IvfCells / 2).collect())
    } { rows =>
      checkRanked("ann", rows, queryVecs, "cosine")
      val got = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val recall = queryVecs.map(q => (got.getOrElse(q, Set.empty) & exact(q)).size.toDouble / K).sum /
        queryVecs.size
      Check(recall >= MinRecall, f"ANN recall@$K $recall%.3f below $MinRecall")
      t.note("similarity.ann", "recall_at_10", recall)
      Moved(rowsOut = rows.length)
    }

    ops.run("quality_pipeline", write = true, tag) {
      t.call("text.quality_pipeline") {
        val kept = TextAnalysis.gopherFilter(docs).filter(col("keep") === 1).select("doc_id")
        val clean = docs.join(kept, "doc_id").localCheckpoint(true)
        val sampled = TextAnalysis.mixtureSample(clean, budgetTokens = BudgetTokens)
          .select("doc_id").localCheckpoint(true)
        val packed = TextAnalysis.packSequences(clean.join(sampled, "doc_id"))
          .select("doc_id", "start_offset", "bin_id").collect()
        (clean.select("doc_id").collect().map(_.getLong(0)).toSet,
          sampled.collect().map(_.getLong(0)).toSet, packed)
      }
    } { case (kept, sampled, packed) =>
      val clean = corpus.docs.map(_._1).filterNot(corpus.noisy).toSet
      Check.equal("quality gate survivors", kept.size, clean.size)
      Check(kept == clean, "quality gate kept a noisy document or dropped a clean one")
      Check(sampled.nonEmpty && sampled.subsetOf(kept), "mixture sample is empty or not a subset")
      Check.equal("packed documents", packed.map(_.getLong(0)).toSet, sampled)
      Check(packed.forall(r => r.getLong(2) == r.getLong(1) / 2048), "a packed bin id is off its offset")
      Moved(rowsIn = corpus.docs.size)
    }

    // the operators persist intermediate blocks for their lazy results;
    // release them so passes do not accumulate cached state
    graft.core.Engine.releaseCachedState(spark)
  }

  /** `k` rows per query, ranks 1..k, scores non-increasing with rank. */
  private def checkRanked(what: String, rows: Array[Row], queries: Seq[Long], scoreCol: String): Unit = {
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    Check.equal(s"$what queries answered", byQuery.keySet, queries.toSet)
    byQuery.foreach { case (q, rs) =>
      val ranked = rs.sortBy(_.getAs[Long]("rank"))
      Check.equal(s"$what ranks of query $q", ranked.map(_.getAs[Long]("rank")).toSeq, (1L to K).toSeq)
      val scores = ranked.map(r => r.getAs[Any](scoreCol).toString.toDouble)
      Check(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"$what scores of query $q increase with rank")
    }
  }

  def finalChecks(): Seq[String] = Nil

  def layerMetrics(ops: Ops): Seq[Metric] = Seq(
    Layers.spanMs(ops, "dedup.semdedup_ms", "dedup.semdedup"),
    Layers.spanMs(ops, "dedup.embedding_neardup_ms", "dedup.embedding_neardup"),
    Layers.spanMs(ops, "dedup.minhash_ms", "dedup.minhash"),
    Layers.spanMs(ops, "dedup.clusters_ms", "dedup.clusters"),
    Layers.spanMsPer(ops, "retrieval.bm25_ms_per_query", "retrieval.bm25", "queries", 1, "ms"),
    Layers.spanMsPer(ops, "similarity.ann_ms_per_query", "similarity.ann", "queries", 1, "ms"),
    Layers.spanMs(ops, "text.quality_pipeline_ms", "text.quality_pipeline"),
    Layers.spanAttrAll(ops, "dedup.planted_found_ratio",
      Seq("dedup.semdedup", "dedup.embedding_neardup", "dedup.minhash"), "found_ratio", "ratio"),
    Layers.spanAttr(ops, "similarity.recall_at_10", "similarity.ann", "recall_at_10", "ratio")).flatten
}

object Curation {
  val K = 10
  val Dim = 64
  /** Semantic-dedup cells: ~80 vectors a cell, as in d11. */
  val SemDedupCells = 5
  val IvfCells = 16
  /** Id offset of the perturbed copy that plants one near-duplicate per vector. */
  val PerturbOffset = 100000L
  /** Lowest acceptable IVF-PQ recall@10 against exact top-k. */
  val MinRecall = 0.5
  /** Lowest acceptable share of planted pairs semantic dedup groups. */
  val MinSemDedupFound = 0.95
  val BudgetTokens = 20000L
}
