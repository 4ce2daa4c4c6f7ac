// lives in graft.operators.tools to reach the package-private annLshNn;
// dev tool, not part of the operator surface
package graft.operators.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ~10× stress fixture + wall-time scaling slopes for the bucketed
  * dedup/ANN paths (VERDICT r8 item 6: their scale claims rested on
  * plan shape alone; this records measured slopes vs sf0.1).
  *
  * `gen <outDir> [mult]` synthesizes documents/embeddings parquet with
  * the SAME workload character as the driver's sf0.1 fixture (measured
  * there, not assumed): text = words drawn from the fixture's own
  * 31-word vocab to a uniform 44–577 char budget, 20 sources / 5 langs,
  * ~5% planted near-dup twins (10% word mutation) and ~0.16% exact
  * dups; embeddings = 64-dim random unit vectors (per-coord sd 1/8,
  * matching the fixture), uniform labels 0–9. Determinism comes from a
  * per-row seeded RNG keyed on the row id — no global state, any
  * partitioning. Builder-side only: writes under /tmp, never a driver
  * query.
  *
  * `measure <dir> [reps]` times the three bucketed operators the
  * VERDICT names. For the LSH path it times the NN relation BOTH at the
  * sf0.1 default (16 tables × 5 bits) and at the documented scale
  * setting (8 bits ≈ +log2(10) to hold bucket occupancy): constant bits
  * grow candidates linearly with N (superlinear total — expected, and
  * the reason the nBits lever is documented), scaled bits are the
  * near-linear path. The full ann_lsh_bucket GATE query is excluded on
  * purpose: it contains the exact O(N²) sweep as its recall
  * denominator, which would dominate the measurement with a cost that
  * is quadratic by design, not a property of the bucketed path.
  */
object StressFixture {
  private case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  private case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** @param dupFrac fraction of base docs that get a planted near-dup
    *        twin (default 0.05 = the sf0.1 character)
    * @param exactFrac fraction that get an EXACT duplicate (default
    *        0.0016 = the sf0.1 character); crank it (e.g. 0.8) to
    *        synthesize the dup-heavy boilerplate corpus class (repeated
    *        crawl snapshots) where the containment posture selector
    *        must route dedup-first */
  private def gen(spark: SparkSession, outDir: String, mult: Int,
      vocabMult: Int, dupFrac: Double = 0.05,
      exactFrac: Double = 0.0016): Unit = {
    import spark.implicits._
    val base = "/root/testdata/sf0.1"
    val vocab = spark.read.parquet(s"$base/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().as[String].collect().sorted
    val langs = spark.read.parquet(s"$base/documents.parquet")
      .select(col("lang")).distinct().as[String].collect().sorted
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    // vocabMult > 1 widens the vocabulary to ~31×vocabMult by suffixing
    // each draw; the squared-uniform suffix keeps a mild Zipf-like skew
    // (low suffixes are hubs, high ones rare) instead of a flat df —
    // the shape prefix-filtered similarity joins face on real corpora
    def draw(r: scala.util.Random): String = {
      val base = vocab(r.nextInt(vocab.length))
      if (vocabMult <= 1) base
      else {
        val u = r.nextDouble()
        base + "_" + (u * u * vocabMult).toInt
      }
    }

    val docs = spark.range(nDocs).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        val r = new scala.util.Random(id * 2654435761L + 12345)
        val target = 44 + r.nextInt(534)
        val words = Iterator.continually(draw(r))
          .scanLeft(("", 0)) { case ((_, len), w) => (w, len + w.length + 1) }
          .drop(1).takeWhile(_._2 <= target).map(_._1).toVector
        val w0 = if (words.isEmpty) Vector(vocab(0)) else words
        val text = w0.mkString(" ")
        val lang = langs(r.nextInt(langs.length))
        val src = "src" + r.nextInt(20)
        val d = Doc(id * 2, text, lang, src, text.length.toLong)
        val roll = r.nextDouble()
        if (roll < dupFrac) {
          // planted near-dup twin: ~10% of words re-drawn
          val t2 = w0.map(w => if (r.nextDouble() < 0.1) draw(r) else w)
            .mkString(" ")
          Seq(d, Doc(id * 2 + 1, t2, lang, src, t2.length.toLong))
        } else if (roll < dupFrac + exactFrac) {
          Seq(d, d.copy(doc_id = id * 2 + 1)) // planted exact dup
        } else Seq(d)
      }
    }.toDF()
    docs.write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    val embs = spark.range(nVecs).as[Long].map { id =>
      val r = new scala.util.Random(id * 40503L + 99)
      val v = Array.fill(64)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      Emb(id, v.map(x => (x / nrm).toFloat), (id % 10).toInt)
    }.toDF()
    embs.write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    val nd = spark.read.parquet(s"$outDir/documents.parquet").count()
    val nv = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"[stress] wrote $nd docs, $nv vectors to $outDir")
  }

  /** Key shift strides: 10⁷ for order and doc ids, 10⁶ for customer and
    * part keys, 10⁵ for supplier keys. */
  private val strides = Map(
    "doc_id" -> 10000000L, "o_orderkey" -> 10000000L,
    "l_orderkey" -> 10000000L, "c_custkey" -> 1000000L,
    "o_custkey" -> 1000000L, "p_partkey" -> 1000000L,
    "l_partkey" -> 1000000L, "s_suppkey" -> 100000L,
    "l_suppkey" -> 100000L)

  /** `mult` copies of `base`'s `table`, written to `outDir`: copy i moves
    * each `shifted` key column up by i × its stride. The copies are
    * key-disjoint only while every shifted column's base keys lie in
    * [0, stride), so that is required before anything is written. */
  private[tools] def replicate(spark: SparkSession, base: String,
      outDir: String, table: String, mult: Int, shifted: String*): Unit = {
    val src = spark.read.parquet(s"$base/$table.parquet")
    val bounds = src.select(shifted.flatMap(c =>
      Seq(min(col(c)), max(col(c))).map(_.cast("long"))): _*).head()
    shifted.zipWithIndex.foreach { case (c, i) =>
      if (!bounds.isNullAt(2 * i)) {
        val (lo, hi) = (bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
        require(lo >= 0 && hi < strides(c),
          s"$table.$c spans [$lo, $hi], outside [0, ${strides(c)}): " +
            "its shifted copies would collide")
      }
    }
    (0 until mult).map { i =>
      src.select(src.columns.map { c =>
        if (shifted.contains(c)) (col(c) + lit(i * strides(c))).as(c)
        else col(c)
      }: _*)
    }.reduce(_ union _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table.parquet")
    println(s"[stress] wrote ${mult}x $table to $outDir")
  }

  /** `gendup <outDir> [mult]`: the DUPLICATE-HEAVY corpus class (VERDICT
    * r16 item 3's fixture): sf0.1's documents replicated mult× with a
    * doc_id shift and UNCHANGED text, so every doc sits in an
    * identical-word-set clique of size mult (dup mass 1 − 1/mult) — the
    * shape where the banded path's (source, band, bh) buckets hold whole
    * cliques and the candidate self-join goes quadratic in clique size.
    * Embeddings ride along 1× so the registry loads. */
  private def genDup(spark: SparkSession, outDir: String, mult: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    replicate(spark, base, outDir, "documents", mult, "doc_id")
    spark.read.parquet(s"$base/embeddings.parquet")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    val n = spark.read.parquet(s"$outDir/documents.parquet").count()
    println(s"[stress] wrote $n docs (${mult}x identical-set cliques) " +
      s"to $outDir")
  }

  /** `genrel <outDir> [mult]`: a mult× relational fixture for the MWAS
    * pipeline A/Bs — orders/lineitem/customer replicated from sf0.1 with
    * key-shifted copies (order keys +i·10⁷, customer keys +i·10⁶). The
    * shifts are ≡ 0 (mod 20), so `custkey % 20` bioproject assignment is
    * preserved: the fixture has the SAME 20 bioprojects with mult× the
    * biosamples and runs each — contrast groups grow mult×, which is the
    * scale direction the staging trade depends on. */
  private def genRel(spark: SparkSession, outDir: String, mult: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    def rep(table: String, shifted: String*): Unit =
      replicate(spark, base, outDir, table, mult, shifted: _*)
    rep("orders", "o_orderkey", "o_custkey")
    rep("lineitem", "l_orderkey")
    rep("customer", "c_custkey")
  }

  /** `genall <outDir> [mult] [vocabMult]`: the COMPLETE mult× fixture
    * dir (VERDICT r13 item 1 — the registry-wide slope audit needs every
    * table present so arbitrary registry queries run against it).
    * TPC-ish facts are replicated with key shifts that keep every
    * foreign key valid AND keep per-dimension fan-out constant
    * (lineitem's part/supp keys shift in lockstep with part/supplier);
    * region/nation stay fixed exactly as TPC-H keeps them fixed across
    * SFs. A `key % k` bucket survives the shift exactly when k divides
    * that key's stride (10⁷ order/doc, 10⁶ customer/part, 10⁵
    * supplier): `custkey % 20` (the bioproject), `suppkey % 50`,
    * `orderkey % 2` and (for genDup's shifted doc ids) `doc_id % 10`
    * keep their buckets. No stride is ≡ 0 (mod 3) or (mod 64) — 10⁷,
    * 10⁶, 10⁵ are ≡ 640, 320, 160 (mod 1280) — so the MWAS input filter
    * `o_orderkey % 3 != 0` keeps a different third of each copy
    * (10⁷ ≡ 1 (mod 3)), and a `% 64` bucketing would move.
    * documents/embeddings go through `gen` with vocabMult
    * defaulting to mult so word document-frequency DENSITY stays
    * constant — the scale direction a growing real corpus has (new
    * documents bring new vocabulary), and the one that doesn't conflate
    * every similarity join's slope with a df-densification artifact the
    * dedup notes already measured separately (NOTES_r12 §slope). */
  private def genAll(spark: SparkSession, outDir: String, mult: Int,
      vocabMult: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    def rep(table: String, shifted: String*): Unit =
      replicate(spark, base, outDir, table, mult, shifted: _*)
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      println(s"[stress] copied 1x $t to $outDir (fixed dim)")
    }
    rep("customer", "c_custkey")
    rep("supplier", "s_suppkey")
    rep("part", "p_partkey")
    rep("orders", "o_orderkey", "o_custkey")
    rep("lineitem", "l_orderkey", "l_partkey", "l_suppkey")
    genEvents(spark, outDir, mult)
    gen(spark, outDir, mult, vocabMult)
  }

  // a tuple, not a nested private case class: Janino rejects the
  // private accessor in the generated serializer (Doc/Emb survive via
  // mapPartitions' different codegen path; Ev goes through .map)
  private type Ev = (Long, Long, Long, String, Double, String)

  /** `genev <outDir> [mult]`: a mult× events fixture with the sf0.1
    * character (1500·mult users, 100k·mult events, the same 30-day
    * window, 5 uniform event types, 2-decimal values, `{"k": 0..99}`
    * props). Per-row seeded RNG keyed on event id — deterministic under
    * any partitioning. The scale direction matches production event
    * stores: MORE USERS at similar per-user volume, so per-user windows
    * stay constant-cost and the slope isolates the shuffle/agg terms. */
  private def genEvents(spark: SparkSession, outDir: String,
      mult: Int): Unit = {
    import spark.implicits._
    val types = Array("click", "error", "purchase", "signup", "view")
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val startUs = 1704067200000000L // 2024-01-01 UTC
    val spanUs = 30L * 86400L * 1000000L
    spark.range(nEvents).as[Long].map { id =>
      val r = new scala.util.Random(
        id * 6364136223846793005L + 1442695040888963407L)
      (id,
        startUs + ((r.nextLong() >>> 1) % spanUs),
        (r.nextLong() >>> 1) % nUsers,
        types(r.nextInt(types.length)),
        math.rint(r.nextDouble() * 20000.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}"""): Ev
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/events.parquet")
    val n = spark.read.parquet(s"$outDir/events.parquet").count()
    println(s"[stress] wrote $n events to $outDir")
  }

  /** `measureq <dir> <ops-csv> [reps]`: time ANY registry queries by
    * name against a fixture dir — the generic slope harness for
    * operators outside the original dedup/ANN set. Each line also
    * carries the run's task-metric totals (shuffle write + memory/disk
    * spill, summed over the MEDIAN-rep window's tasks) so a slope table
    * can attribute wall growth to exchange volume vs compute — the r15
    * three-point curvature audit's added column. */
  private def measureQ(spark: SparkSession, dir: String,
      ops: Seq[String], reps: Int): Unit = {
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    ops.foreach { name =>
      val runs = (1 to reps).map { _ =>
        // Bench's cold-rep protocol: without the evict, any query built
        // on the session-scoped pipeline base cache times the CACHE on
        // reps 2+ (mwas_pipeline_full read 0.8 s warm vs 25 s cold at
        // 10× before this matched)
        spark.catalog.clearCache()
        graft.operators.MwasPipelineQueries.evict()
        shuffleW.set(0); spillMem.set(0); spillDisk.set(0)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        // listener events drain async; give the bus a beat so the
        // per-rep metric attribution is not cut short
        Thread.sleep(200)
        (w, shuffleW.get, spillMem.get, spillDisk.get)
      }
      val ts = runs.map(_._1)
      val med = ts.sorted.apply(ts.size / 2)
      val medRun = runs.minBy(r => math.abs(r._1 - med))
      println(f"[stress] $name%-20s median=$med%6.2f s  " +
        ts.map(t => f"$t%.2f").mkString("[", " ", "]") +
        f"  shufW=${medRun._2 / 1048576.0}%.1f MiB" +
        f" spill=${(medRun._3 + medRun._4) / 1048576.0}%.1f MiB")
    }
  }

  private def measure(spark: SparkSession, dir: String, reps: Int,
      only: Option[Set[String]]): Unit = {
    def time(tag: String)(mk: => DataFrame): Unit = {
      if (!only.forall(_.contains(tag))) return
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val med = ts.sorted.apply(ts.size / 2)
      println(f"[stress] $tag%-16s median=$med%6.2f s  " +
        ts.map(t => f"$t%.2f").mkString("[", " ", "]"))
    }
    time("minhash_lsh") (
      graft.SparkEntry.queries("dedup_minhash_lsh")(spark, dir))
    time("simhash") (
      graft.SparkEntry.queries("dedup_simhash")(spark, dir))
    time("jaccard_pairs") (
      graft.SparkEntry.queries("dedup_jaccard_pairs")(spark, dir))
    time("components") (
      graft.SparkEntry.queries("dedup_components")(spark, dir))
    time("lsh_nn_5bit") (graft.operators.DedupQueries.annLshNn(spark, dir))
    time("lsh_nn_8bit") (
      graft.operators.DedupQueries.annLshNn(spark, dir, 16, 8))
    // the emb-clustering LSH arm's occupancy knob: 5-bit = the shipped
    // oracle setting, 8-bit = the bucket-size-holding setting for a 10×
    // corpus (raise nBits with log2(N), the annLshNn sweep's rule)
    time("emb_cc_lsh_5bit") (
      graft.operators.DedupQueries.dedupEmbComponentsLsh(spark, dir))
    time("emb_cc_lsh_8bit") (
      graft.operators.DedupQueries.dedupEmbComponentsLsh(spark, dir, 16, 8))
    // the cell-bounded arm's occupancy knob: 16 cells = the shipped
    // oracle setting; 160 = the cell-size-holding setting for a 10×
    // corpus (K grows with N — the SemDedup paper's own scaling rule)
    time("emb_cc_cells_16") (
      graft.operators.DedupQueries.dedupEmbComponentsCellsAt(spark, dir, 16))
    time("emb_cc_cells_160") (
      graft.operators.DedupQueries.dedupEmbComponentsCellsAt(spark, dir, 160))
    // PageRank with the iteration engine fed by the BANDED pair relation
    // instead of the exact Jaccard derivation — isolates the iteration's
    // own slope from the edge-derivation term that dominates the
    // registry query's cost at 30× (NOTES_r12)
    // minhashPairs, not dedupMinhashLsh: the public query ends in a
    // global orderBy the checkpoint would immediately discard — timing
    // it here would inflate the iteration attribution with a wasted sort
    time("pagerank_banded") (
      graft.operators.GraphQueries.fullRanksFrom(
        graft.operators.DedupQueries.minhashPairs(spark, dir))
        .select(col("doc_id"), col("deg"),
          round(col("pr"), 6).as("pagerank"))
        .orderBy(col("pagerank").desc, col("doc_id")))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "gen" :: out :: rest =>
        gen(spark, out, rest.headOption.map(_.toInt).getOrElse(10),
          rest.drop(1).headOption.map(_.toInt).getOrElse(1),
          rest.drop(2).headOption.map(_.toDouble).getOrElse(0.05),
          rest.drop(3).headOption.map(_.toDouble).getOrElse(0.0016))
      case "genrel" :: out :: rest =>
        genRel(spark, out, rest.headOption.map(_.toInt).getOrElse(10))
      case "gendup" :: out :: rest =>
        genDup(spark, out, rest.headOption.map(_.toInt).getOrElse(10))
      case "genall" :: out :: rest =>
        val m = rest.headOption.map(_.toInt).getOrElse(10)
        genAll(spark, out, m,
          rest.drop(1).headOption.map(_.toInt).getOrElse(m))
      case "genev" :: out :: rest =>
        genEvents(spark, out, rest.headOption.map(_.toInt).getOrElse(10))
      case "measure" :: dir :: rest =>
        measure(spark, dir, rest.headOption.map(_.toInt).getOrElse(3),
          rest.drop(1).headOption.map(_.split(",").toSet))
      case "measureq" :: dir :: ops :: rest =>
        measureQ(spark, dir, ops.split(",").toSeq,
          rest.headOption.map(_.toInt).getOrElse(3))
      case other => sys.error(s"usage: gen <outDir> [mult] [vocabMult] | " +
        s"genrel <outDir> [mult] | measure <dir> [reps] [ops-csv]; " +
        s"got $other")
    }
    spark.stop()
  }
}
