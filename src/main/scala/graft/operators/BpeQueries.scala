package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** BPE tokenizer training and encoding as distributed relational
  * rounds — the merge loop of Sennrich et al. 2016 (and the
  * GPT-2/LLaMA tokenizer builds) restated for a cluster: each round is
  * (1) one weighted pair-count aggregation over the WORD-TYPE relation —
  * vocabulary-sized, not corpus-sized, because pair counts factor
  * through word frequencies — and (2) one scalar merge decision applied
  * as a codegen'd string `replace`. The corpus is touched exactly once
  * (the word-frequency count); every training round after that is
  * vocab-scale work, which is what makes BPE training feasible on
  * 100 TB input (the standard production shape: corpus pass → word-type
  * histogram → driver-paced merge rounds, one tiny aggregate each).
  *
  * Representation: each word-type is a wrapped symbol string
  * `<h><e><l><l><o>` — the wrappers make `replace('<a><b>' → '<ab>')`
  * an exact non-overlapping left-to-right merge with no boundary
  * ambiguity (plain space-joined symbols lose a separator at every
  * replacement and corrupt adjacent matches). Adjacent-pair counts come
  * from the posexplode + (word, pos+1) self-join (codegen'd, same shape
  * as [[CollocationQueries]]), weighted by word frequency. Overlapping
  * occurrences (`aaa` → two `(a,a)` pairs) are counted at every
  * position — the classic counting rule; application is greedy
  * non-overlapping, and both engines implement both identically.
  *
  * Determinism: the winning pair each round is (count desc, lhs, rhs) —
  * a total order — and everything else is exact integer/string work, so
  * both relations hash-oracle against DuckDB replaying the identical
  * rounds as chained CTEs. One collected Row per round (the merge
  * DECISION — the model artifact itself, same driver-scalar budget as
  * the connected-components convergence check).
  *
  * [[bpeEncode]] is the other half of the lifecycle: apply the learned
  * merge table to the corpus (per word TYPE — encode once per type,
  * weight by frequency; the corpus-grain encode is a broadcast join of
  * the vocab-sized encoded types) and report per-source token counts
  * and the chars-per-token compression the merges bought. */
object BpeQueries {

  private val rounds = 3

  /** The shared train loop: runs the merge rounds and returns the final
    * word-type state (word, cnt, merged symbol string) + merge rows.
    *
    * The state is `localCheckpoint`ed once up front (so the corpus is
    * scanned exactly once) and once per round (so round r plans O(1)
    * work instead of re-deriving rounds 1..r−1 — without it the loop is
    * O(rounds²) lineage recomputes, harmless at rounds=3 but the known
    * killer at real merge counts; the connected-components precedent).
    * The checkpointed relation is vocab-sized, so the materialization
    * cost per round is negligible; the per-round checkpoint A/B is
    * recorded in NOTES_r12. */
  private[operators] def train(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var state = Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("str", concat_ws("",
        expr("transform(sequence(1, length(word)), " +
          "i -> concat('<', substr(word, i, 1), '>'))")))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val syms = state
        .withColumn("syms",
          split(expr("substr(str, 2, length(str) - 2)"), "><"))
        .select(col("cnt"), col("str"),
          posexplode(col("syms")).as(Seq("pos", "sym")))
      val pairs = syms.select(col("str"), col("cnt"), col("pos"),
          col("sym").as("lhs"))
        .join(syms.select(col("str"), (col("pos") - 1).as("pos"),
          col("sym").as("rhs")), Seq("str", "pos"))
        .groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("cnt")).as("total"))
      val best = pairs
        .orderBy(col("total").desc, col("lhs"), col("rhs"))
        .limit(1).head()
      val (l, rr, tot) = (best.getString(0), best.getString(1),
        best.getLong(2))
      merges += ((r, l, rr, l + rr, tot))
      state = state.withColumn("str",
        regexp_replace(col("str"),
          java.util.regex.Pattern.quote(s"<$l><$rr>"),
          java.util.regex.Matcher.quoteReplacement(s"<$l$rr>")))
        .localCheckpoint(true)
    }
    (state, merges.result())
  }

  def bpeMergeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    train(s, dir)._2
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("round"))
  }

  /** Encode the corpus under the learned merges: per source, word/char/
    * token totals and the realized chars-per-token compression
    * (int-exact arithmetic; tokens per word type = wrapper count of the
    * final symbol string). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (state, _) = train(s, dir)
    val encoded = state.select(col("word"),
      ((length(col("str")) -
        length(regexp_replace(col("str"), "<", ""))))
        .cast("long").as("n_tokens"))
    Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(encoded), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("source"))
  }

  /** Chained-CTE replay of the train rounds: s0 (word-type histogram,
    * wrapped symbols) → per round pN (pair counts) / bN (winner) / sN
    * (merged state, carrying `word` through for the encode join). */
  private def cteChain: String = {
    def pairCte(r: Int): String =
      s"""p$r AS (
         |  SELECT a.sym AS lhs, b.sym AS rhs, sum(a.cnt) AS total
         |  FROM (SELECT str, cnt, unnest(syms) AS sym,
         |          generate_subscripts(syms, 1) AS i
         |        FROM (SELECT str, cnt,
         |                string_split(substr(str, 2, strlen(str) - 2),
         |                  '><') AS syms
         |              FROM s${r - 1})) a
         |  JOIN (SELECT str, unnest(syms) AS sym,
         |          generate_subscripts(syms, 1) AS i
         |        FROM (SELECT str, cnt,
         |                string_split(substr(str, 2, strlen(str) - 2),
         |                  '><') AS syms
         |              FROM s${r - 1})) b
         |    ON a.str = b.str AND b.i = a.i + 1
         |  GROUP BY 1, 2),
         |b$r AS (SELECT lhs, rhs, total FROM p$r
         |        ORDER BY total DESC, lhs, rhs LIMIT 1),
         |s$r AS (SELECT s.word, s.cnt,
         |          replace(s.str, '<' || b.lhs || '><' || b.rhs || '>',
         |            '<' || b.lhs || b.rhs || '>') AS str
         |        FROM s${r - 1} s CROSS JOIN b$r b)""".stripMargin
    s"""s0 AS (
       |  SELECT word, count(*) AS cnt,
       |    list_aggregate(list_transform(range(1, strlen(word) + 1),
       |      i -> '<' || substr(word, CAST(i AS INT), 1) || '>'),
       |      'string_agg', '') AS str
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE strlen(word) > 0 GROUP BY word),
       |${(1 to rounds).map(pairCte).mkString(",\n")}""".stripMargin
  }

  val bpeMergeTrainSql: String = {
    val selects = (1 to rounds).map(r =>
      s"""SELECT $r AS round, lhs, rhs, lhs || rhs AS merged,
         |       CAST(total AS BIGINT) AS pair_count FROM b$r""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $cteChain
       |SELECT * FROM (
       |  $selects)
       |ORDER BY round""".stripMargin
  }

  val bpeEncodeSql: String =
    s"""WITH $cteChain,
       |enc AS (SELECT word,
       |          CAST(strlen(str) - strlen(replace(str, '<', ''))
       |            AS BIGINT) AS n_tokens
       |        FROM s$rounds)
       |SELECT t.source, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(strlen(t.word)) AS BIGINT) AS n_chars,
       |       CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(strlen(t.word)) AS DOUBLE) / sum(enc.n_tokens)
       |         AS chars_per_token
       |FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |      FROM documents) t
       |JOIN enc ON t.word = enc.word
       |WHERE strlen(t.word) > 0
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("bpe_merge_train", bpeMergeTrain _, Some(bpeMergeTrainSql)),
      ("bpe_encode", bpeEncode _, Some(bpeEncodeSql)))
}
