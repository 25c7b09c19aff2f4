package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.{functions => F}

import graft.Tables

/** Distributed BPE tokenizer training — the merge-table learner a
  * training-data pipeline runs before tokenizing a corpus.
  *
  * Classic byte-pair encoding over the word-frequency table: each round
  * counts adjacent symbol pairs weighted by word frequency, merges the
  * most frequent pair (ties broken lexicographically so the table is
  * deterministic), and rewrites the symbol sequences left-to-right.
  *
  * Scale shape: the word-frequency table is ONE hash aggregate over the
  * corpus (Heaps-law-bounded rows — millions at 100 TB, never corpus-
  * sized); each round is one pair-count aggregate + a TakeOrdered(1)
  * (only the single winning pair ever reaches the driver) + a map-only
  * codegen'd fold applying the merge. Rounds localCheckpoint so the plan
  * stays shallow at any merge count. No oracle (iterative training is
  * not single-statement SQL) — the spec proves the merge table EQUALS a
  * plain-Scala BPE replica on the same word frequencies.
  */
object BpeTrainer {
  type Q = (SparkSession, String) => DataFrame

  /** Merge rounds for the driver-checked query. */
  val Merges = 12

  /** Word-frequency table of the documents corpus (lowercase a-z words
    * only, so symbols are single letters). */
  def wordFreqs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(F.explode(F.split(F.col("text"), " ")).as("word"))
      .filter(F.col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(F.count(F.lit(1)).as("freq"))

  /** One left-to-right merge application as a codegen'd fold: append the
    * symbol, or fuse it onto the accumulator's tail when (tail, symbol)
    * is the winning pair. "aaa" under (a,a) becomes [aa, a] — the fused
    * tail "aa" no longer equals "a", so overlaps resolve left-to-right
    * exactly like the reference implementation. */
  private def applyMerge(l: String, r: String): String = {
    def q(s: String) = "'" + s.replace("'", "\\'") + "'"
    s"""aggregate(syms, array_remove(array(''), ''),
       |  (acc, s) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = ${q(l)}
       |                        AND s = ${q(r)}
       |    THEN concat(slice(acc, 1, size(acc) - 1), array(${q(l + r)}))
       |    ELSE concat(acc, array(s)) END)""".stripMargin
  }

  /** Train `merges` rounds; returns (rank, left, right, freq) rows in
    * merge order. */
  def train(words: DataFrame, merges: Int): Seq[(Int, String, String, Long)] = {
    var cur = words
      .select(F.col("freq"), F.split(F.col("word"), "").as("syms"))
      .localCheckpoint()
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var done = false
    var rank = 1
    while (rank <= merges && !done) {
      val top = cur
        .filter(F.expr("size(syms) >= 2"))
        .select(F.col("freq"), F.explode(F.expr(
          "transform(sequence(1, size(syms) - 1), j -> struct(element_at(syms, j) AS l, element_at(syms, j + 1) AS r))"))
          .as("p"))
        .groupBy("p.l", "p.r").agg(F.sum("freq").as("c"))
        .orderBy(F.col("c").desc, F.col("l"), F.col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((rank, l, r, c))
        val next = cur.select(F.col("freq"),
          F.expr(applyMerge(l, r)).as("syms")).localCheckpoint()
        GraftSqlBridge.releaseCheckpoints(cur)
        cur = next
        rank += 1
      }
    }
    GraftSqlBridge.releaseCheckpoints(cur)
    out.result()
  }

  /** t_bpe_train: the learned merge table as a DataFrame (rows-only —
    * spec-proven equal to the plain-Scala replica). */
  def tBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = train(wordFreqs(s, dir), Merges)
      .map { case (rank, l, r, c) =>
        org.apache.spark.sql.Row(rank.toLong, l, r, c)
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("left",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("right",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("freq",
        org.apache.spark.sql.types.LongType, nullable = false)))
    s.createDataFrame(rows.asJava, schema)
  }

  /** Tokenization of one word as an expression: symbols ride as a
    * space-delimited string (" a b c "), and each learned merge is ONE
    * non-overlapping left-to-right `replace(" l r " → " lr ")` — which
    * provably equals the per-symbol fold (a merged token never re-matches
    * within its round: "lr" ≠ "l"), so apply is a chain of codegen'd
    * string replaces instead of nested array folds. */
  private def tokenizeExpr(wordCol: String, merges: Seq[(Int, String, String, Long)]): String = {
    def q(s: String) = "'" + s.replace("'", "\\'") + "'"
    val base = s"concat(' ', array_join(split($wordCol, ''), ' '), ' ')"
    val folded = merges.foldLeft(base) { case (e, (_, l, r, _)) =>
      s"replace($e, ${q(s" $l $r ")}, ${q(s" ${l + r} ")})"
    }
    s"split(trim($folded), ' ')"
  }

  /** t_bpe_apply: tokenize the corpus with the learned merge table —
    * train once (the bounded iterative phase), then tokenization is
    * map-only over documents: per-word token counts summed per doc,
    * plus the first word's token split as a witness. OOV words (outside
    * the trained `^[a-z]+$` domain) count as single tokens. Rows-only;
    * the spec proves token counts and splits equal the plain-Scala
    * fold-apply replica. */
  def tBpeApply(s: SparkSession, dir: String): DataFrame = {
    val merges = train(wordFreqs(s, dir), Merges)
    val tok = tokenizeExpr("w", merges)
    val perWord =
      s"transform(split(text, ' '), w -> CASE WHEN w RLIKE '^[a-z]+$$' THEN size($tok) ELSE 1 END)"
    val firstTok = tokenizeExpr("element_at(split(text, ' '), 1)", merges)
    Tables(s, dir, "documents")
      .select(F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long").as("n_words"),
        F.expr(s"aggregate($perWord, 0L, (a, x) -> a + x)").as("n_tokens"),
        F.when(F.element_at(F.split(F.col("text"), " "), 1).rlike("^[a-z]+$"),
          F.expr(s"array_join($firstTok, '|')")).otherwise(F.lit("<oov>"))
          .as("first_toks"))
  }

  /** d_tokenize_pack: the end-to-end LLM data-prep capstone — train the
    * tokenizer, tokenize, then pack documents into fixed context windows
    * by their TRUE token counts (d_pack's greedy first-fit fold, but
    * capacity measured in BPE tokens, which is what the training job
    * actually consumes — word-count packing over/under-fills bins as
    * merge depth changes). Same scale shape as d_pack: one independent
    * O(group) fold per source over (content-hash, doc_id) order; token
    * counting is map-only expression work. Rows-only; the spec composes
    * the two proven replicas (fold-apply tokenizer + greedy fold) and
    * demands EXACT equality. */
  def dTokenizePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = train(wordFreqs(s, dir))
    val tok = tokenizeExpr("w", merges)
    val perWord =
      s"transform(split(text, ' '), w -> CASE WHEN w RLIKE '^[a-z]+$$' THEN size($tok) ELSE 1 END)"
    Tables(s, dir, "documents")
      .select(F.col("doc_id"), F.col("source"),
        F.md5(F.col("text").cast("binary")).as("h"),
        F.expr(s"aggregate($perWord, 0L, (a, x) -> a + x)").as("n"))
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroups { (src: String, it: Iterator[PackDoc]) =>
        val docs = it.toArray.sortBy(d => (d.h, d.doc_id))
        var bin = 0L
        var fill = 0L
        docs.iterator.map { d =>
          if (fill > 0 && fill + d.n > PackQueries.PackCap) { bin += 1; fill = 0 }
          val slot = PackSlot(d.doc_id, src, bin, fill, d.n)
          fill += d.n
          slot
        }
      }
      .toDF()
  }

  /** Default merge count overload used by the packing capstone. */
  def train(words: DataFrame): Seq[(Int, String, String, Long)] =
    train(words, Merges)

  /** t_bpe_train_gate: the learned merge table's DRIVER-checkable core —
    * round 1 is a single SQL argmax (most frequent adjacent symbol pair
    * of the raw word-frequency table, ties lexical), so its (left,
    * right, freq) rides the oracle hash; later rounds depend on
    * iterative rewrites (spec-proven vs the plain-Scala replica) and are
    * summarized by ok = 1 iff the table's ranks are exactly 1..n with
    * positive frequencies. */
  def tBpeTrainGate(s: SparkSession, dir: String): DataFrame = {
    val t = tBpeTrain(s, dir)
    val first = t.filter(F.col("rank") === 1L)
      .select(F.col("left"), F.col("right"), F.col("freq"))
    val okRanks = t.agg(F.count(F.lit(1)).as("n"),
        F.max("rank").as("mx"), F.min("rank").as("mn"),
        F.countDistinct("rank").as("nd"), F.min("freq").as("mf"))
      .select(F.when(F.col("mx") === F.col("n") && F.col("mn") === 1L &&
        F.col("nd") === F.col("n") && F.col("mf") > 0L, 1L)
        .otherwise(0L).as("ok"))
    first.crossJoin(F.broadcast(okRanks))
  }

  val tBpeTrainGateSql: String =
    """WITH w AS (
      |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents),
      |wf AS (
      |  SELECT word, COUNT(*) AS freq FROM w
      |  WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1),
      |pairs AS (
      |  SELECT substring(word, CAST(i AS INTEGER), 1) AS l,
      |   substring(word, CAST(i AS INTEGER) + 1, 1) AS r,
      |   CAST(SUM(freq) AS BIGINT) AS c
      |  FROM wf, UNNEST(range(1, length(word))) AS t(i)
      |  GROUP BY 1, 2)
      |SELECT l AS "left", r AS "right", c AS freq, CAST(1 AS BIGINT) AS ok
      |FROM pairs ORDER BY c DESC, l, r LIMIT 1""".stripMargin

  /** t_bpe_apply_gate: the tokenizer under the HASH GATE via its
    * LOSSLESSNESS contract — BPE merges only fuse adjacent symbols, so
    * joining a word's tokens must reconstruct the word exactly; ok = 1
    * per doc iff every in-domain word round-trips. Catches any
    * corruption in the replace-chain spelling (quote escaping, marker
    * collisions); per-doc word counts ride the oracle hash. */
  def tBpeApplyGate(s: SparkSession, dir: String): DataFrame = {
    val merges = train(wordFreqs(s, dir), Merges)
    val tok = tokenizeExpr("w", merges)
    Tables(s, dir, "documents")
      .select(F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long").as("n_words"),
        F.expr(
          s"""CASE WHEN forall(split(text, ' '),
             |  w -> w NOT RLIKE '^[a-z]+$$' OR array_join($tok, '') = w)
             |THEN 1L ELSE 0L END""".stripMargin).as("ok"))
  }

  val tBpeApplyGateSql: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      | CAST(1 AS BIGINT) AS ok
      |FROM documents""".stripMargin

  /** Per-SLOT packing invariants — ONE body serving both the per-doc
    * entry and the per-source gate (a fix to the invariant cannot make
    * them disagree): per slot, the bin is never overfilled (offset + n ≤
    * cap unless the doc opens its bin), bins are contiguous from 0, and
    * offsets equal the running fill in (hash, doc_id) order. One window
    * pass over the packed frame. Returns (doc_id, source, ok). */
  private def packSlotOk(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(F.col("h"), F.col("doc_id"))
    dTokenizePack(s, dir)
      .join(Tables(s, dir, "documents")
        .select(F.col("doc_id"), F.md5(F.col("text").cast("binary")).as("h")),
        "doc_id")
      .withColumn("prev_bin", F.lag("bin", 1).over(w))
      .withColumn("prev_end", F.lag(F.col("off") + F.col("n"), 1).over(w))
      .select(F.col("doc_id"), F.col("source"),
        F.when(
          (F.col("off") + F.col("n") <= F.lit(PackQueries.PackCap) ||
            F.col("off") === 0L) &&
          (F.col("prev_bin").isNull &&
            F.col("bin") === 0L && F.col("off") === 0L ||
           F.col("prev_bin") === F.col("bin") &&
            F.col("off") === F.col("prev_end") ||
           F.col("prev_bin") === F.col("bin") - 1 &&
            F.col("off") === 0L), 1L).otherwise(0L).as("ok"))
  }

  /** d_tokenize_pack_gate: the per-slot invariants rolled up per source
    * (count rides the oracle hash, ok = the slots' minimum). */
  def dTokenizePackGate(s: SparkSession, dir: String): DataFrame =
    packSlotOk(s, dir)
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"), F.min("ok").as("ok"))

  val dTokenizePackGateSql: String =
    """SELECT source, COUNT(*) AS n_docs, CAST(1 AS BIGINT) AS ok
      |FROM documents GROUP BY 1""".stripMargin

  // ── Oracle-backed driver wrappers (r9 verdict #2: zero rows-only) ────

  /** t_bpe_train driver entry: the full training loop runs, and the
    * learned table is emitted as per-merge invariant flags — ranks
    * 1..Merges (the row SET rides the oracle hash: DuckDB generates
    * exactly Merges ranks, so an early-stopped or over-long table is
    * red), every merge has a positive selection-time count, non-empty
    * sides, and the argmax count sequence is NON-INCREASING by rank (a
    * new pair (x, lr) occurs at most as often as the (x, l) it replaces,
    * so each round's max ≤ the previous round's). Round 1's (left,
    * right, freq) stays pinned exactly by t_bpe_train_gate; ranks > 1
    * are spec-proven against the plain-Scala replica. */
  def tBpeTrainChecked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the merge table is a driver-side Seq (train collects one argmax
    // row per round); the per-rank flags are plain Scala over its
    // Merges entries — no window, no extra job
    val merges = train(wordFreqs(s, dir), Merges)
    merges.zipWithIndex.map { case ((rank, l, r, c), i) =>
      val ok = c > 0 && l.nonEmpty && r.nonEmpty &&
        (i == 0 || c <= merges(i - 1)._4)
      (rank.toLong, if (ok) 1L else 0L)
    }.toDF("rank", "ok")
  }

  val tBpeTrainCheckedSql: String =
    s"""SELECT CAST(r AS BIGINT) AS rank, CAST(1 AS BIGINT) AS ok
       |FROM range(1, ${Merges + 1}) t(r)""".stripMargin

  /** t_bpe_apply driver entry: the tokenizer runs over the corpus and
    * every doc's TRUE token count is gated by its exact sandwich bound —
    * n_words ≤ n_tokens ≤ Σ(in-domain ? word length : 1) (each in-domain
    * word yields between 1 and len(word) tokens; OOV words count 1) —
    * with both bounds riding the oracle hash (DuckDB recomputes them
    * from the text). Round-trip losslessness stays pinned per doc by
    * t_bpe_apply_gate; exact counts are spec-proven vs the replica. */
  def tBpeApplyChecked(s: SparkSession, dir: String): DataFrame =
    tBpeApply(s, dir)
      .join(Tables(s, dir, "documents").select(F.col("doc_id"),
        F.expr(
          """aggregate(transform(split(text, ' '),
            |  w -> CASE WHEN w RLIKE '^[a-z]+$' THEN length(w) ELSE 1 END),
            |  0L, (a, x) -> a + CAST(x AS BIGINT))""".stripMargin).as("tok_ub")),
        "doc_id")
      .select(F.col("doc_id"), F.col("n_words"), F.col("tok_ub"),
        F.when(F.col("n_tokens") >= F.col("n_words") &&
          F.col("n_tokens") <= F.col("tok_ub"), 1L).otherwise(0L).as("ok"))

  val tBpeApplyCheckedSql: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      | CAST(list_reduce(list_prepend(0,
      |   list_transform(string_split(text, ' '),
      |     w -> CASE WHEN regexp_full_match(w, '[a-z]+')
      |          THEN strlen(w) ELSE 1 END)),
      |   (a, x) -> a + x) AS BIGINT) AS tok_ub,
      | CAST(1 AS BIGINT) AS ok
      |FROM documents""".stripMargin

  /** d_tokenize_pack driver entry: the end-to-end train→tokenize→pack
    * capstone runs, and every packed SLOT is gated per doc (finer than
    * d_tokenize_pack_gate's per-source min; same [[packSlotOk]] body).
    * The (doc_id, source) row set rides the oracle hash — every
    * document packed exactly once. */
  def dTokenizePackChecked(s: SparkSession, dir: String): DataFrame =
    packSlotOk(s, dir)

  val dTokenizePackCheckedSql: String =
    """SELECT doc_id, source, CAST(1 AS BIGINT) AS ok FROM documents""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("t_bpe_train", tBpeTrainChecked _, Some(tBpeTrainCheckedSql)),
    ("t_bpe_train_gate", tBpeTrainGate _, Some(tBpeTrainGateSql)),
    ("t_bpe_apply", tBpeApplyChecked _, Some(tBpeApplyCheckedSql)),
    ("t_bpe_apply_gate", tBpeApplyGate _, Some(tBpeApplyGateSql)),
    ("d_tokenize_pack", dTokenizePackChecked _, Some(dTokenizePackCheckedSql)),
    ("d_tokenize_pack_gate", dTokenizePackGate _, Some(dTokenizePackGateSql)))
}
