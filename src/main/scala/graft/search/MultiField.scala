package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BuildConfig, BuiltIndex, IndexBuilder, TermPostings}

/** Multi-field index: the reference's `Term` is (field, text) and every
  * statistic is per-field (`core/search/termquery.go:61`,
  * `core/index/fieldinfos.go`, `core/document/field.go`). Lucene stores each
  * field's postings/norms in per-field keyed structures of shared segment
  * files; the Spark-native mapping is one SUBINDEX per field under
  * `indexDir/field=<name>/`, all sharing the SAME docId space and segment
  * geometry (same input ids + config => identical segSize, asserted below).
  * Per-field idf/avgdl then come for free from each subindex's manifest —
  * exactly the per-field CollectionStatistics the reference computes.
  */
final class MultiFieldIndex(val indexDir: String, val perField: Map[String, BuiltIndex])
    extends Serializable {
  require(perField.nonEmpty, "at least one field")
  require(perField.values.map(_.segmentSize).toSet.size == 1,
    "all fields must share the segment geometry (same docId space)")
  def apply(field: String): BuiltIndex = perField(field)
  def fields: Set[String] = perField.keySet
}

object MultiFieldIndex {
  /** Build (or load committed generations of) one subindex per field column.
    * Each field gets its own analyzer chain run, term dictionary, postings,
    * norms, and statistics.
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, docIdCol: String,
                  fieldCols: Seq[String], indexDir: String,
                  cfg: BuildConfig = BuildConfig(),
                  inputPath: String = ""): MultiFieldIndex = {
    val per = fieldCols.map { f =>
      f -> IndexBuilder.buildOrLoad(spark, docs, docIdCol, f, s"$indexDir/field=$f", cfg,
        inputPath = if (inputPath.nonEmpty) s"$inputPath#$f" else "")
    }.toMap
    new MultiFieldIndex(indexDir, per)
  }
}

/** Field-scoped + cross-field search over a [[MultiFieldIndex]].
  *
  * Field-scoped queries delegate to the field's searcher (its statistics,
  * its dictionary). Cross-field composition is done Spark-side on scored
  * sets — the idiomatic mapping of BooleanQuery-over-fields: per-field
  * kernels produce (doc, score) and Catalyst joins/aggregates combine them
  * (TakeOrderedAndProject gives the bounded top-k merge).
  */
final class MultiFieldSearcher(val index: MultiFieldIndex) extends Serializable {
  val perField: Map[String, IndexSearcher] =
    index.perField.map { case (f, i) => f -> new IndexSearcher(i) }

  def searcher(field: String): IndexSearcher =
    perField.getOrElse(field, throw new IllegalArgumentException(s"unknown field '$field'"))

  /** Top-k within one field (that field's BM25 statistics). */
  def search(spark: SparkSession, field: String, q: Query, k: Int) =
    searcher(field).search(spark, q, k)

  def count(spark: SparkSession, field: String, q: Query): Long =
    searcher(field).count(spark, q)

  /** Weighted cross-field disjunctive sum (SHOULD across fields): score =
    * sum over clauses of weight * fieldScore. Ordered by score rounded to
    * 6dp (desc), docId asc — rounding-first makes the rank stable across
    * summation orders (each addend is computed with the field's exact BM25
    * op order; only the cross-field sum is Catalyst's).
    *
    * This is the EXHAUSTIVE reference path (every matching doc of every
    * clause is scored). For term clauses at scale use [[searchBlendedWand]]
    * — same ranks, block-max pruned.
    */
  def searchBlended(spark: SparkSession, clauses: Seq[(String, Query, Double)],
                    k: Int): DataFrame = {
    val scored = clauses.map { case (f, q, w) =>
      searcher(f).scoreAll(spark, q).toDF("doc_id", "s")
        .select(col("doc_id"), (col("s") * lit(w)).as("s"))
    }
    scored.reduce(_ unionAll _)
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Cross-field WAND: the pruned sibling of [[searchBlended]] for term
    * clauses. Per segment, every (field, term) clause becomes one
    * [[PostingsScorer]] over ITS field's postings with ITS field's
    * statistics (weight = clauseWeight * field idf, norm cache from the
    * field's avgdl — the reference's per-field Term/CollectionStatistics,
    * `core/search/termquery.go:61`), and one [[WandScorer]] over the shared
    * docId space prunes with collector feedback — a hot term skips
    * non-competitive blocks instead of scoring its whole posting list
    * (round-2's exhaustive path scored + shuffled every match).
    *
    * All subindexes share segment geometry (asserted at build), so the
    * clauses' posting rows cogroup by segmentId: the shuffle moves only
    * |clauses| x |segments| posting rows. Scores are the same blended sum
    * rounded to 6dp; ranks are identical to [[searchBlended]] (tested) up
    * to the usual rounded-ranking caveat — docs whose RAW sums differ but
    * round to the same 6dp value at the k boundary may resolve differently
    * (the collector keeps top-k by raw score). Falls back to the
    * exhaustive path when a subindex carries tombstones
    * (live-docs would need the per-field delete cogroup) or a clause is not
    * a plain term.
    */
  def searchBlendedWand(spark: SparkSession, clauses: Seq[(String, String, Double)],
                        k: Int): DataFrame = {
    // ScaledScorer's maxScore bound (inner.maxScore * w) is an upper bound
    // only for w > 0 — a zero/negative weight would silently corrupt WAND
    // pruning. Non-positive weights take the exhaustive path, which handles
    // any weight correctly (it never prunes).
    if (index.perField.values.exists(_.manifest.deletedCount > 0L) ||
        clauses.exists(_._3 <= 0.0))
      return searchBlended(spark, clauses.map { case (f, t, w) => (f, TermQ(t), w) }, k)
    val byField = clauses.groupBy(_._1).map { case (f, cs) => f -> cs.map(_._2).toSet }
    val clausesB = clauses // stable order: the kernel sums in clause order
    crossFieldTopK(spark, byField, k) { (fieldCtx, post, collector) =>
      val scorers: Array[Scorer] = clausesB.flatMap { case (f, t, w) =>
        val ctx = fieldCtx(f)
        post.get((f, t)).map { tp =>
          // weight applied OUTSIDE the BM25 op order (score * w), exactly
          // as the exhaustive path's `col("s") * w` — bit-identical addends
          val base = new PostingsScorer(new TermReader(tp, ctx.cache),
            ctx.idf.getOrElse(t, 0.0), ctx.cache, scoring = true)
          if (w == 1.0) base: Scorer else new ScaledScorer(base, w): Scorer
        }
      }.toArray
      WandScorer.union(scorers, 1, collector.mode.prune)
    }
  }

  /** Pruned cross-field FILTER search — the WAND-family sibling of
    * [[searchFiltered]]: the scoring term's postings and the filter term's
    * postings (from ITS field's subindex) form one block-max
    * [[ConjunctionScorer]] per segment — scoring clause scores, filter
    * clause only iterates (FILTER semantics), and the collector threshold
    * skips windows whose block maxima can't compete. Same results as
    * [[searchFiltered]] (tested), without scoring + shuffling every match
    * of a hot scoring term. Falls back on tombstoned subindexes.
    */
  def searchFilteredWand(spark: SparkSession, field: String, term: String,
                         filterField: String, filterTerm: String, k: Int): DataFrame = {
    if (index.perField.values.exists(_.manifest.deletedCount > 0L))
      return searchFiltered(spark, field, TermQ(term), filterField, TermQ(filterTerm), k)
    val byField = Map(field -> Set(term)) ++
      Map(filterField -> (Set(filterTerm) ++ (if (filterField == field) Set(term) else Set.empty)))
    crossFieldTopK(spark, byField, k) { (fieldCtx, post, collector) =>
      val ctx = fieldCtx(field)
      for {
        tp <- post.get((field, term))
        ftp <- post.get((filterField, filterTerm))
      } yield {
        val scoring = new PostingsScorer(new TermReader(tp, ctx.cache),
          ctx.idf.getOrElse(term, 0.0), ctx.cache, scoring = true)
        val filt = new PostingsScorer(new TermReader(ftp, fieldCtx(filterField).cache),
          0.0, fieldCtx(filterField).cache, scoring = false)
        new ConjunctionScorer(Array[Scorer](scoring, filt), Array[Scorer](scoring),
          collector.mode.prune): Scorer
      }
    }
  }

  /** Shared cross-field kernel: fetch each field's clause-term posting rows
    * (one pushed scan per field), run them by segment through the one
    * segment runner (the shuffle moves |clauses| x |segments| rows), build
    * one scorer per segment via `mkScorer`, collect leaf top-ks, merge
    * globally. */
  private def crossFieldTopK(spark: SparkSession, termsByField: Map[String, Set[String]], k: Int)(
      mkScorer: (Map[String, QueryContext], Map[(String, String), TermPostings],
                 TopKCollector) => Option[Scorer]): DataFrame = {
    import spark.implicits._
    val fieldCtx: Map[String, QueryContext] = termsByField.map { case (f, ts) =>
      f -> searcher(f).queryContext(spark, BoolQ(should = ts.toSeq.map(TermQ)))
    }
    val rows = termsByField.toSeq.map { case (f, terms) =>
      index(f).postings(spark)
        .where(col("term").isin(terms.toSeq: _*))
        .as[TermPostings]
        .rdd.map(tp => (tp.segmentId, (f, tp)))
    }.reduce(_ union _)
    // every field shares the segment geometry, so any field's searcher can
    // run the segments; the callers fall back on tombstones, so none apply
    val perLeaf = perField.head._2.runSegments(spark, rows) { (seg, fieldRows, _, _) =>
      val post = fieldRows.iterator.map { case (f, tp) => (f, tp.term) -> tp }.toMap
      val collector = new TopKCollector(k, seg.docBase, None)
      mkScorer(fieldCtx, post, collector).foreach(SegmentKernel.run(_, collector))
      collector.hits.iterator
    }
    spark.createDataset(perLeaf).toDF("doc_id", "s")
      .select(col("doc_id"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Cross-field filtered search: hits of `q` in `field`, required to also
    * match `filterQ` in `filterField` (scores from `field` only) — the
    * FILTER-clause semantics across fields.
    */
  def searchFiltered(spark: SparkSession, field: String, q: Query,
                     filterField: String, filterQ: Query, k: Int): DataFrame = {
    val hits = searcher(field).scoreAll(spark, q).toDF("doc_id", "score")
    val keep = searcher(filterField).matchingDocs(spark, filterQ).toDF("doc_id", "z")
      .select("doc_id")
    hits.join(keep, "doc_id")
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
