package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer: TRAIN on a word-frequency table, ENCODE
  * distributed. q87 counts the first merge round's candidate pairs; this is
  * the rest of the tokenizer lifecycle — the learned merge list applied to
  * the corpus, which is what a token-budget pipeline (q66's packing, token
  * pricing, context-length filtering) actually needs.
  *
  * Training follows Sennrich et al. 2016 ("Neural Machine Translation of
  * Rare Words with Subword Units"): repeatedly merge the most frequent
  * adjacent symbol pair over the word-frequency table. The table — NOT the
  * corpus — is the training input, exactly like production tokenizer
  * trainers: at 100 TB the corpus folds to (word, freq) once (one shuffle,
  * the q87/q84 aggregation), the driver trains on the bounded top-N slice
  * of it, and only the ENCODE pass touches the data again, fully
  * distributed. Ties in pair frequency break lexicographically so the
  * learned merge list is deterministic for a given table.
  *
  * Encoding is a codegen-friendly Catalyst expression ([[BpeTokenCount]]):
  * `doGenCode` emits a call to the trained encoder held as a reference
  * object, so the expression stays inside whole-stage codegen (no UDF, no
  * interpreted fallback on the hot path).
  */
object Bpe {

  /** Base symbols of a word: one per CODE POINT (a surrogate pair stays
    * one symbol), so encode counts agree with code-point engines (DuckDB,
    * and any spec-faithful tokenizer) on non-BMP text — the q103 rule. */
  private[operators] def codePointSymbols(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Learned tokenizer: ordered merge list (earlier = higher priority). */
  final case class Model(merges: Seq[(String, String)]) extends Serializable {
    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      merges.iterator.zipWithIndex.foreach { case ((a, b), i) =>
        if (!m.containsKey(a + "\u0000" + b)) m.put(a + "\u0000" + b, i)
      }
      m
    }

    /** Symbols of `word` after applying all merges (greedy by rank, the
      * standard BPE apply loop). */
    def encodeWord(word: String): Seq[String] = {
      if (word.isEmpty) return Nil
      val syms = Bpe.codePointSymbols(word).toBuffer
      var done = false
      while (!done && syms.length > 1) {
        var bestRank = Int.MaxValue
        var bestAt = -1
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestAt = i }
          i += 1
        }
        if (bestAt < 0) done = true
        else {
          syms(bestAt) = syms(bestAt) + syms(bestAt + 1)
          syms.remove(bestAt + 1)
        }
      }
      syms.toSeq
    }

    /** Token count of a whitespace-split text under this tokenizer. */
    def countTokens(text: String): Int = {
      var n = 0
      text.split(' ').foreach { w => if (w.nonEmpty) n += encodeWord(w).length }
      n
    }
  }

  /** Train `numMerges` merges over a word-frequency table (Sennrich
    * algorithm, lexicographic tie-break). */
  def train(wordFreq: Seq[(String, Long)], numMerges: Int): Model = {
    // each word as its current symbol sequence, weighted by frequency
    var words: Vector[(Array[String], Long)] =
      wordFreq.iterator.filter(_._1.nonEmpty)
        .map { case (w, f) => (codePointSymbols(w), f) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.merge(p, f, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val p = e.getKey; val n = e.getValue
          if (n > bestN || (n == bestN &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestN = n
          }
        }
        merges += best
        val (a, b) = best
        words = words.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, f)
          }
        }
        round += 1
      }
    }
    Model(merges.result())
  }

  /** Train from a corpus DataFrame with a `text` column: fold to the
    * word-frequency table distributed (ONE aggregation — the only corpus
    * scan training does), keep the top `vocabWords` words by (freq desc,
    * word asc), train on that bounded slice driver-side. The cap bounds
    * driver state the way production trainers bound their word tables;
    * rare tail words contribute ~nothing to pair counts. */
  def trainFromCorpus(corpus: DataFrame, vocabWords: Int, numMerges: Int): Model = {
    val freq = corpus
      .select(explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(vocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    train(freq, numMerges)
  }

  import org.apache.spark.sql.graftglue.Bridge

  /** Column API: BPE token count of `text` under `model`. */
  def tokenCount(text: Column, model: Model): Column =
    Bridge.column(BpeTokenCount(Bridge.expression(text), model))
}

/** Codegen'd token counter: the trained [[Bpe.Model]] rides as a codegen
  * reference object and `doGenCode` emits a direct method call, so the
  * expression stays inside the WholeStageCodegen span — same discipline as
  * the other native expressions (SURVEY.md §2.10). */
case class BpeTokenCount(child: Expression, model: Bpe.Model)
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"

  override protected def nullSafeEval(input: Any): Any =
    model.countTokens(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bpeModel", model, classOf[Bpe.Model].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.countTokens($c.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
