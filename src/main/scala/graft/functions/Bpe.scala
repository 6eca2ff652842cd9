package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer: merge-table LEARNING on a corpus
  * and TOKENIZATION with a learned table (Sennrich et al. 2016 — public
  * algorithm; no reference equivalent, builder-prompt north star).
  *
  * Segmentations ride in a boundary-safe string encoding — symbols joined
  * by TWO spaces, single-space padded at both ends (`" l  o  w "`).
  * Applying one merge (a,b) is then a single literal
  * `replace(" a  b ", " ab ")`: the match consumes one space from each
  * flanking separator, so after replacement the two-space invariant is
  * restored, adjacent merge sites don't block each other, and a symbol
  * can never match across its boundary (`xa  b` does not contain
  * `" a  b "`). One replace pass = canonical simultaneous leftmost BPE
  * (`aaaaa` + (a,a) → `[aa, aa, a]`), with identical literal-replace
  * semantics in Spark (`StringReplace`) and any engine replaying the
  * oracle. Symbols never contain spaces because words come from
  * whitespace tokenization.
  *
  * Scale design: learning does ONE corpus pass (word-frequency
  * aggregation — map-side combinable), then iterates on the
  * vocabulary-sized (word, freq, seg) relation: each merge round is a
  * pair-explode + sum-agg + TakeOrdered(1) and a narrow replace — the
  * corpus text is never touched again, and the per-round driver transfer
  * is exactly one (pair, count) row. Tokenization never joins at all: the
  * learned merges fold into `numMerges` chained literal replaces in one
  * projection over the scan — zero shuffle at any scale (the word-level
  * fold evaluates interpreted; per-row work riding the scan).
  */
object Bpe {

  /** Initial character segmentation in the boundary-safe encoding:
    * `"low"` → `" l  o  w "`. */
  def segInit(word: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(word, "(.)", "$1  ")), lit(" "))

  /** Apply an ordered merge list to a segmentation column — one literal
    * replace per merge, in rank order. */
  def applyMerges(seg: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(seg) { case (s, (a, b)) =>
      org.apache.spark.sql.functions.replace(
        s, lit(s" $a  $b "), lit(s" $a$b "))
    }

  /** Symbol count of a segmentation (≥1; a degenerate empty seg counts 1,
    * matching `string_split` semantics on both engines). */
  def segTokenCount(seg: Column): Column =
    size(split(trim(seg), "  "))

  /** Learn `numMerges` BPE merges from `df(textCol)`. Words are
    * whitespace tokens of the lowercased text; pair counts weight by word
    * frequency; ties break on (count desc, left asc, right asc) — fully
    * deterministic. Returns the merge table ordered by rank; stops early
    * if the vocabulary runs out of pairs.
    *
    * The driver holds only the word-frequency RELATION HANDLE plus one
    * collected row per round; the relation itself stays distributed and
    * cached. */
  def learnBpe(df: DataFrame, textCol: String, numMerges: Int): Seq[(Int, String, String, Long)] = {
    val wf = df
      .select(explode(WsTokens.split(lower(trim(col(textCol))))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), segInit(col("word")).as("seg"))
      .localCheckpoint() // one corpus pass; iterate on the vocab relation
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var cur = wf
    var k = 0
    var sinceCkpt = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val syms = split(trim(col("seg")), "  ")
      val best = cur
        .select(col("freq"), syms.as("__syms"))
        // single-symbol words have no pairs (and sequence(0, -1) would
        // count DOWN — Spark's sequence steps backward when start > stop)
        .where(size(col("__syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(0), size(col("__syms")) - 2),
          i => struct(element_at(col("__syms"), i + 1).as("l"),
            element_at(col("__syms"), i + 2).as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((k, l, r, c))
        cur = cur.withColumn("seg",
          org.apache.spark.sql.functions.replace(
            col("seg"), lit(s" $l  $r "), lit(s" $l$r ")))
        k += 1
        // re-checkpoint periodically (the Graph.pageRankExact /
        // componentMin lineage discipline): without this, round k's
        // collect replays all k−1 chained replaces plus the pair explode
        // from the single wf checkpoint — O(numMerges²) recomputation,
        // ruinous at realistic merge-table sizes (tens of thousands)
        sinceCkpt += 1
        if (sinceCkpt >= 8 && k < numMerges) {
          cur = cur.localCheckpoint()
          sinceCkpt = 0
        }
      }
    }
    out.result()
  }

  /** Whitespace→BPE token count per document for a FIXED merge table —
    * the narrow tokenization path (no dictionary join): each word
    * re-segments through the chained replaces in the scan projection. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val words = WsTokens.split(lower(trim(text)))
    aggregate(words, lit(0),
      (acc, w) => acc + segTokenCount(applyMerges(segInit(w), merges)))
  }
}
