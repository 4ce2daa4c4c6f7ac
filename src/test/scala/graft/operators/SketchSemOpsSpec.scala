package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic contracts for the round-11 sketch/semantic/ops operators —
  * value-level cross-engine agreement is the DuckDB oracle's job (all
  * five are hash-oracled); these pin the properties each operator
  * exists FOR:
  *
  *   - `heavy_hitters`: the CMS error is ONE-SIDED (est ≥ exact, always)
  *     and the deliberately-narrow width actually exercises collisions
  *     (some overestimates are nonzero — otherwise the sketch test is
  *     vacuous).
  *   - `semdedup`: survivorship is exactly the ε-rule — dropped iff some
  *     earlier cluster-mate is within ε; first-in-cluster always
  *     survives; the relation partitions the corpus.
  *   - `dedup_containment`: the operator's reason to exist — it finds
  *     pairs the Jaccard pass structurally misses (high containment,
  *     J below the 0.7 near-dup bar).
  *   - `compaction_plan`: the plan is a partition of the file listing
  *     (docs and bytes conserve) with contiguous bin ids per lang.
  *   - `token_pmi`: every surviving bigram meets the count floor and
  *     both member tokens exist in the unigram space.
  */
class SketchSemOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("sketch-sem-ops-spec")
    .getOrCreate()

  test("cms estimates are one-sided and collisions are exercised") {
    val rows = SketchQueries.heavyHitters(spark, dir)
      .select("exact_cnt", "cms_est", "overest").collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0),
        s"CMS underestimated: est ${r.getLong(1)} < exact ${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(1) - r.getLong(0))
    }
    assert(rows.count(_.getLong(2) > 0) > 0,
      "width never collided — the sketch test is vacuous at this w")
  }

  test("semdedup drops exactly the epsilon-rule and partitions the corpus") {
    val rows = SemDedupQueries.semDedup(spark, dir)
      .select("vec_id", "n_prior", "max_prior_cos", "keep").collect()
    val n = graft.core.Tables(spark, dir, "embeddings").count()
    assert(rows.length == n, "one decision per vector")
    rows.foreach { r =>
      val (nPrior, mc, keep) = (r.getLong(1), r.getDouble(2), r.getLong(3))
      if (nPrior == 0) assert(keep == 1, "first-in-cluster must survive")
      // rounded column: compare against the threshold with rounding slack
      if (keep == 0) assert(mc >= 0.35 - 1e-6, s"dropped below eps: $mc")
      else assert(mc < 0.35 + 1e-6, s"kept above eps: $mc")
    }
    val dropped = rows.count(_.getLong(3) == 0)
    assert(dropped > 0, "fixture threshold produced no drops — vacuous")
    assert(dropped < n, "dropped everything")
  }

  test("containment finds pairs the jaccard pass structurally misses") {
    val rows = DedupQueries.dedupContainment(spark, dir)
      .select("containment", "jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) >= 0.95 &&
      r.getDouble(1) <= r.getDouble(0) + 1e-12,
      "containment >= jaccard must hold (min <= union)"))
    assert(rows.count(_.getDouble(1) < 0.7) > 0,
      "no high-containment/low-jaccard pair — the operator's point")
  }

  test("prefix-filtered containment is row-identical to the exact arm") {
    // the PPJoin prefix filter is exact by construction (no recall
    // loss); this pins it — both ratio columns are int/int divisions of
    // identically-derived integers, so compare bit-exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "containment", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val exact = rows(DedupQueries.dedupContainment(spark, dir))
    val prefix = rows(DedupQueries.dedupContainmentPrefix(spark, dir))
    assert(exact.nonEmpty)
    assert(prefix == exact,
      s"missed=${(exact -- prefix).take(5)} extra=${(prefix -- exact).take(5)}")
  }

  test("curation funnel stages are monotone and consistent with parts") {
    val rows = DedupQueries.corpusCurationFunnel(spark, dir)
      .select("stage", "stage_name", "n_docs", "n_chars").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("raw", "quality", "exact_dedup", "near_dedup"))
    // each stage only ever removes documents (and their bytes)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) <= a.getLong(2), s"docs grew: $a -> $b")
        assert(b.getLong(3) <= a.getLong(3), s"bytes grew: $a -> $b")
      case _ =>
    }
    // stage 0 must agree with the corpus itself
    val d = graft.core.Tables(spark, dir, "documents")
    assert(rows.head.getLong(2) == d.count())
    assert(rows.head.getLong(3) ==
      d.agg(sum(length(col("text")))).head().getLong(0))
    assert(rows.last.getLong(2) > 0, "near-dedup must keep survivors")
  }

  test("compaction plan partitions the listing and conserves bytes") {
    val plan = OpsQueries.compactionPlan(spark, dir)
      .select("lang", "bin", "n_files", "n_docs", "total_bytes").collect()
    val docs = graft.core.Tables(spark, dir, "documents")
      .agg(count(lit(1)), sum(col("n_chars"))).collect()(0)
    assert(plan.map(_.getLong(3)).sum == docs.getLong(0), "docs conserve")
    assert(plan.map(_.getLong(4)).sum == docs.getLong(1), "bytes conserve")
    // contiguous bins per lang from 0 (the cumsum rule can't skip a bin)
    plan.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val bins = rows.map(_.getLong(1)).sorted
      assert(bins.head == 0L && bins.last == bins.length - 1,
        s"$lang bins not contiguous: ${bins.mkString(",")}")
    }
  }

  test("streamed cms merge is bit-identical to the one-shot batch sketch") {
    // sums of per-batch integer partials must equal the one-shot sums —
    // the mergeable-sketch property the operator exists to demonstrate
    val batch = SketchQueries.heavyHitters(spark, dir).collect()
    val streamed = StreamingSketchQueries.streamHeavyHitters(spark, dir)
      .collect()
    assert(batch.map(_.toSeq).toSeq == streamed.map(_.toSeq).toSeq)
  }

  test("funnel steps are monotone and windowed") {
    val rows = BehaviorQueries.funnelConversion(spark, dir)
      .select("step", "users", "conv_rate").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_view", "2_click", "3_purchase"))
    val users = rows.map(_.getLong(1))
    assert(users(0) >= users(1) && users(1) >= users(2),
      "a later step reached more users than an earlier one")
    rows.foreach(r => assert(r.getDouble(2) <= 1.0 && r.getDouble(2) >= 0.0))
  }

  test("retention matrix: offset zero is complete by construction") {
    val rows = BehaviorQueries.retentionCohorts(spark, dir)
      .select("day_offset", "users", "cohort_size", "retention").collect()
    assert(rows.nonEmpty)
    // every user is active on their own first day, so the offset-0 cell
    // carries the whole cohort at retention exactly 1.0
    val base = rows.filter(_.getLong(0) == 0L)
    assert(base.nonEmpty)
    base.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getDouble(3) == 1.0)
    }
    rows.foreach(r => assert(r.getLong(1) <= r.getLong(2)))
  }

  test("lm score covers every multi-token doc with coherent perplexity") {
    val rows = CollocationQueries.textLmScore(spark, dir)
      .select("doc_id", "n_bigrams", "avg_logp", "ppl").collect()
    val eligible = graft.core.Tables(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length == eligible, "every >=2-token doc gets a score")
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      // smoothed bigram probs are < 1, so avg logp < 0 and ppl > 1
      assert(r.getDouble(2) < 0.0, s"logp must be negative: $r")
      assert(r.getDouble(3) > 1.0, s"perplexity must exceed 1: $r")
      assert(math.abs(r.getDouble(3) - math.exp(-r.getDouble(2))) <
        r.getDouble(3) * 1e-4, "ppl must equal exp(-avg_logp)")
    }
  }

  test("phash pairs every planted re-encode with zero noise") {
    val rows = MultimodalQueries.mmPhashDedup(spark, dir)
      .select("doc_id", "n_near").collect()
    val (planted, originals) = rows.partition(_.getLong(0) >= 1000000L)
    assert(planted.nonEmpty)
    // every re-encoded payload must find its source within the radius
    planted.foreach(r =>
      assert(r.getLong(1) >= 1, s"re-encode ${r.getLong(0)} found nothing"))
    // measured on this corpus: no cross-pair is within hamming 3, so an
    // original pairs iff its own re-encode exists
    originals.foreach { r =>
      val hasTwin = r.getLong(0) % 10 == 0
      assert((r.getLong(1) >= 1) == hasTwin,
        s"doc ${r.getLong(0)} n_near=${r.getLong(1)} twin=$hasTwin")
    }
  }

  test("inverted index postings are sorted and df-consistent") {
    val rows = RetrievalQueries.invertedIndex(spark, dir)
      .select("w", "df", "tf_total", "postings_head").collect()
    val nDocs = graft.core.Tables(spark, dir, "documents").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (df, tfTotal) = (r.getLong(1), r.getLong(2))
      assert(df >= 1 && df <= nDocs)
      assert(tfTotal >= df, "total tf at least one per posting")
      // postings_head is a '; '-joined string (driver-comparable house
      // rule) — parse it back for the order/length assertions
      val post = r.getString(3).split("; ").toSeq.map(_.toLong)
      assert(post == post.sorted, "postings must be ordered")
      assert(post.length == math.min(df, 20L).toInt)
    }
  }

  test("bm25 ranks by descending score over matching docs only") {
    val rows = RetrievalQueries.bm25Search(spark, dir)
      .select("doc_id", "n_terms", "score").collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getLong(1) >= 1 && r.getLong(1) <= 3,
      "a scored doc matches 1..3 query terms"))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(2) >= b.getDouble(2))
      case _ =>
    }
  }

  test("split audit conserves docs and bounds leakage") {
    val rows = SplitQueries.splitLeakageAudit(spark, dir)
      .select("source", "n_train", "n_val", "n_val_leaked", "leak_rate")
      .collect()
    val total = graft.core.Tables(spark, dir, "documents").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total,
      "split must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "leaked bounded by val size")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // the audit exists because leakage is real on near-dup-dense data
    assert(rows.map(_.getLong(3)).sum > 0, "no leakage found — vacuous")
  }

  test("bpe merges are well-formed with non-increasing counts") {
    val rows = BpeQueries.bpeMergeTrain(spark, dir)
      .select("round", "lhs", "rhs", "merged", "pair_count").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    rows.foreach(r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2)))
    // round 1 merges raw characters; later rounds may reuse merged units
    assert(rows(0).getString(1).length == 1 &&
      rows(0).getString(2).length == 1)
    // each merge can only shrink the remaining pair mass: a new pair's
    // count is bounded by the merged symbol's occurrences, which is the
    // previous winner's count
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) >= b.getLong(4),
        "later merge outweighed an earlier winner")
      case _ =>
    }
  }

  test("bpe encode compresses: fewer tokens than chars, at least one per word") {
    val rows = BpeQueries.bpeEncode(spark, dir)
      .select("n_words", "n_chars", "n_tokens", "chars_per_token").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "a token covers >= 1 char")
      assert(r.getLong(2) >= r.getLong(0), "a word is >= 1 token")
      assert(r.getDouble(3) > 1.0,
        "3 merges on this vocab must buy real compression")
    }
  }

  test("pagerank conserves probability mass on the near-dup graph") {
    val (ranks, stray) = BoundedState.stray(spark)(
      GraphQueries.fullRanks(spark, dir))
    // the power iteration releases every superseded round's checkpoint
    assert(stray.isEmpty, s"pagerank left unread persistent RDDs $stray")
    val full = ranks.select("pr").collect().map(_.getDouble(0))
    assert(full.nonEmpty)
    // no dangling nodes (every node has degree >= 1), so the power
    // iteration preserves total mass exactly up to float error
    assert(math.abs(full.sum - 1.0) < 1e-9,
      s"mass ${full.sum} drifted from 1")
    full.foreach(p => assert(p > 0.0))
    val top = GraphQueries.pagerankNearDup(spark, dir)
      .select("pagerank").collect().map(_.getDouble(0))
    top.sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("pmi bigrams meet the floor and live in the unigram space") {
    val rows = CollocationQueries.tokenPmi(spark, dir)
      .select("x", "y", "c_xy").collect()
    assert(rows.length == 40)
    rows.foreach(r => assert(r.getLong(2) >= 5))
    val vocab = graft.core.Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .select("t").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(vocab.contains(r.getString(0)) && vocab.contains(r.getString(1)))
    }
  }
}
