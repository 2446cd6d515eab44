package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** BPE tokenizer-vocabulary induction (Sennrich, Haddow & Birch, ACL
  * 2016 — the algorithm behind GPT-2/RoBERTa-class tokenizers):
  * iteratively merge the corpus's most frequent adjacent symbol pair,
  * starting from characters, until `numMerges` merges (or no pair
  * reaches `minFreq`). The learned artifact is the ORDERED merge table —
  * applying it greedily reproduces the tokenizer.
  *
  * Scale shape — the part that matters at 100 TB: the corpus is touched
  * exactly ONCE (token explode → word-count aggregation, map-side
  * combinable); every merge iteration then runs on the WORD VOCABULARY
  * (Heaps'-law sublinear in corpus size, ~10⁵–10⁶ rows for web corpora,
  * weighted by word counts), never the corpus. Per iteration: one
  * vocab-linear pair fan-out + combinable sum, a single-row argmax via
  * `orderBy.limit(1)` (TakeOrdered — only the top pair reaches the
  * driver, the k-means collect discipline), and a vocab-linear merge
  * application. Lineage is truncated with `localCheckpoint` every few
  * rounds — the apply step would otherwise stack `numMerges` nested
  * aggregate expressions into one unbounded plan.
  *
  * Determinism: ties on pair frequency break lexicographically
  * (left, right), so the merge sequence is identical under any
  * partitioning — property-checked against an independent single-node
  * replay in BpeSpec.
  */
object Bpe {

  /** End-of-word marker — its own symbol, per the paper (distinguishes
    * "est" mid-word from "est" at word end).
    */
  val EndOfWord = "</w>"

  /** Word → initial symbol array: characters plus the end marker. */
  def charSymbols(word: Column): Column =
    concat(filter(split(word, ""), s => s =!= ""), array(lit(EndOfWord)))

  /** (word, n, syms) vocabulary of the corpus — the ONE corpus-wide pass. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    Spread(docs.select(col(textCol)))
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1L)).as("n"))
      .withColumn("syms", charSymbols(col("word")))

  /** Adjacent-pair weighted counts over a (n, syms) vocabulary. */
  private def pairCounts(v: DataFrame): DataFrame =
    v.select(col("n"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .select(col("p.0").as("left"), col("p.1").as("right"), col("n"))
      .groupBy("left", "right").agg(sum(col("n")).as("freq"))

  /** Replace every non-overlapping (left, right) adjacency with the
    * merged symbol, leftmost-first — one fold per word. After a merge the
    * accumulator's tail IS the merged symbol, so "aaa" under (a,a)
    * becomes [aa, a], exactly the paper's simultaneous re.sub semantics.
    */
  private def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** The ordered merge table: (merge_idx, left, right, freq). */
  def train(
      docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L): DataFrame = {
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    val spark = docs.sparkSession
    var v = vocab(docs, textCol).persist()
    v.count() // materialize before the loop (the corpus pass happens once)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val top = pairCounts(v)
        .orderBy(col("freq").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minFreq) done = true
      else {
        val (l, r, f) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += ((i, l, r, f))
        val next = v.withColumn("syms", applyMerge(col("syms"), l, r))
        // truncate lineage every few rounds: each apply nests another
        // aggregate lambda into the plan; checkpointing keeps plan depth
        // (and codegen size) bounded like the k-means rounds
        val bounded =
          if ((i + 1) % 4 == 0) next.localCheckpoint(eager = true) else next
        val old = v
        v = bounded.persist()
        v.count()
        old.unpersist()
        i += 1
      }
    }
    v.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("merge_idx", "left", "right", "freq")
  }
}
