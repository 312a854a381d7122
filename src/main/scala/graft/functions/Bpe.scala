package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native subword (BPE) tokenization statistics:
  * `struct<n_words:int, n_chars:int, n_bpe:int>` per document.
  *
  * Every other token count in the library is WORD-grain
  * ([[TextAnalysis.tokens]] splits on spaces); real training-data
  * budgeting, sequence packing, and contamination windows are measured in
  * MODEL tokens, which are subwords — word-grain numbers are off by the
  * tokenizer's fertility factor (n_bpe / n_words) and unusable as actual
  * sequence lengths (the reference's LLM surface already thinks in model
  * tokens: `reviews_fact.py:61-70` budgets `max_tokens=20`). This
  * expression closes that gap with a deterministic byte-pair-encoding
  * tokenizer (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units") that both engines can replay exactly.
  *
  * Tokenization contract (the DuckDB-replayable specification):
  *  1. `lower(text)`, words = the maximal runs matching `[a-z0-9]+`,
  *     in order (identical regex semantics in Spark and DuckDB).
  *  2. Each word starts as its character sequence; merges never cross a
  *     word boundary.
  *  3. For each merge rule (a, b) IN TABLE ORDER: one left-to-right,
  *     non-overlapping pass replacing each adjacent symbol pair (a, b)
  *     with the concatenated symbol `ab`; after a replacement the scan
  *     continues AFTER the merged pair (the merged symbol is not
  *     reconsidered as a left operand within the same rule's pass).
  *  4. n_words = word count, n_chars = total word characters (= initial
  *     symbol count), n_bpe = total symbols after all merges.
  *
  * The same contract is exactly expressible as a chain of plain
  * `replace()` calls over a DOUBLE-SPACE-separated symbol stream
  * (see [[Bpe.oracleMergeChain]]): with symbols separated by two spaces
  * and one-space boundaries inside the pattern (` a  b ` → ` ab `),
  * each separator keeps a spare space on both sides of the replacement,
  * so a single replace-all per rule IS the left-to-right non-overlapping
  * pass of step 3 — single-space separators would under-merge runs like
  * `a b a b` because the pattern consumes the next pair's boundary. That
  * replace chain is the DuckDB oracle; [[BpeSpec]] property-checks the
  * native pass against a literal `String.replace` implementation of it.
  *
  * Scale shape: a PROJECTION — one pass per document, no shuffle, no UDF
  * boundary (codegen'd like [[BigramStats]]). Per-word results are
  * memoized in a thread-local table: natural-language vocabulary is
  * Zipf-bounded, so at 100 TB the hit rate is near-total and the cost per
  * document approaches a hash lookup per word. The merge table ships as a
  * codegen reference object (a few KB), never per row.
  */
case class BpeStats(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = BpeStats.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_stats requires a string input, got $other")
    }

  @transient private lazy val compiled: Array[Array[String]] =
    merges.map { case (a, b) => Array(a, b, a + b) }.toArray

  override def nullSafeEval(input: Any): Any =
    BpeStats.compute(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", compiled, "java.lang.String[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeStats.compute($c, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeStats {

  val OutType: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_bpe", IntegerType, nullable = false)))

  // Per-word memo: (merge-table identity, word -> symbol count). Vocabulary
  // is Zipf-bounded so the table stays small; capped defensively and
  // reset if a different merge table shows up on the same thread.
  private final val CacheCap = 1 << 16
  private val cache =
    new ThreadLocal[(Array[Array[String]], java.util.HashMap[String, Integer])] {
      override def initialValue() = (null, new java.util.HashMap[String, Integer]())
    }

  /** One pass; called from interpreted eval and generated code alike. */
  def compute(s: UTF8String, merges: Array[Array[String]]): InternalRow = {
    val lower = s.toLowerCase.toString
    var (entryMerges, memo) = cache.get()
    if (entryMerges ne merges) {
      memo = new java.util.HashMap[String, Integer]()
      cache.set((merges, memo))
    }
    var nWords = 0
    var nChars = 0
    var nBpe = 0L
    val len = lower.length
    var i = 0
    while (i < len) {
      // maximal [a-z0-9]+ run
      var c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < len && {
          c = lower.charAt(i)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        val word = lower.substring(start, i)
        nWords += 1
        nChars += word.length
        var cnt = memo.get(word)
        if (cnt == null) {
          cnt = Integer.valueOf(segmentCount(word, merges))
          if (memo.size() >= CacheCap) memo.clear()
          memo.put(word, cnt)
        }
        nBpe += cnt.intValue()
      } else i += 1
    }
    new GenericInternalRow(Array[Any](nWords, nChars,
      math.min(nBpe, Int.MaxValue).toInt))
  }

  /** Symbol count of one word under the ordered merge table (contract
    * step 3). Symbols are always contiguous substrings of the word, so
    * they are tracked as split points, and each rule is one in-place
    * left-to-right compaction pass.
    */
  private def segmentCount(word: String, merges: Array[Array[String]]): Int = {
    val toks = new Array[String](word.length)
    var n = word.length
    var i = 0
    while (i < n) { toks(i) = String.valueOf(word.charAt(i)); i += 1 }
    var r = 0
    while (r < merges.length && n > 1) {
      val a = merges(r)(0); val b = merges(r)(1); val ab = merges(r)(2)
      var in = 0
      var out = 0
      while (in < n) {
        if (in + 1 < n && toks(in) == a && toks(in + 1) == b) {
          toks(out) = ab; in += 2
        } else {
          toks(out) = toks(in); in += 1
        }
        out += 1
      }
      n = out
      r += 1
    }
    n
  }

  /** Column surface with the fixed default merge table. */
  def bpeStats(text: Column): Column = bpeStats(text, Bpe.defaultMerges)

  /** Column surface with an explicit (e.g. corpus-learned) merge table. */
  def bpeStats(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeStats(Bridge.expression(text), merges))

  /** SQL builder: `bpe_stats(text)` — fixed default merges (SQL callers
    * cannot pass a learned table; use the Column surface for that).
    */
  private[graft] def build(exprs: Seq[Expression]): BpeStats = {
    require(exprs.length == 1,
      s"bpe_stats expects 1 argument (text), got ${exprs.length}")
    BpeStats(exprs.head, Bpe.defaultMerges)
  }
}

/** The merge tables and the DuckDB-replay SQL generator. */
object Bpe {

  /** Fixed default merge table, 64 rules: the 50 most frequent English
    * letter digrams (public frequency tables — Norvig's corpus digram
    * statistics ordering) followed by 14 second-level word-piece merges
    * composed from them (the/and/ing/tion/... — the classic BPE
    * progression). Deterministic and embedded verbatim in the DuckDB
    * oracle via [[oracleMergeChain]], so both engines tokenize
    * identically. Rules whose operands were consumed by earlier rules
    * simply never fire (standard BPE apply semantics).
    */
  val defaultMerges: Vector[(String, String)] = Vector(
    "t" -> "h", "h" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "r" -> "e", "o" -> "n", "a" -> "t", "e" -> "n", "n" -> "d",
    "t" -> "i", "e" -> "s", "o" -> "r", "t" -> "e", "o" -> "f",
    "e" -> "d", "i" -> "s", "i" -> "t", "a" -> "l", "a" -> "r",
    "s" -> "t", "t" -> "o", "n" -> "t", "n" -> "g", "s" -> "e",
    "h" -> "a", "a" -> "s", "o" -> "u", "i" -> "o", "l" -> "e",
    "v" -> "e", "c" -> "o", "m" -> "e", "d" -> "e", "h" -> "i",
    "r" -> "i", "r" -> "o", "i" -> "c", "n" -> "e", "e" -> "a",
    "r" -> "a", "c" -> "e", "l" -> "i", "c" -> "h", "l" -> "l",
    "b" -> "e", "m" -> "a", "s" -> "i", "o" -> "m", "u" -> "r",
    "th" -> "e", "a" -> "nd", "i" -> "ng", "io" -> "n", "t" -> "ion",
    "er" -> "s", "a" -> "re", "c" -> "on", "e" -> "nt", "ou" -> "t",
    "es" -> "t", "b" -> "le", "a" -> "ble", "s" -> "ion")

  // ---------------------------------------------------------------------
  // DuckDB oracle generation — the single source of truth for parity: the
  // oracle SQL strings are BUILT from the same merge table the native
  // expression executes.
  // ---------------------------------------------------------------------

  /** SQL expression: the `|`-joined word stream of `textExpr`
    * (contract step 1). `''` when the document has no words.
    */
  def oracleJoinedWords(textExpr: String): String =
    s"array_to_string(regexp_extract_all(lower($textExpr), '[a-z0-9]+'), '|')"

  /** SQL expression: the double-space-separated symbol stream of a
    * `|`-joined word column (each character its own symbol; `|` is a
    * word-boundary symbol no merge pair contains).
    */
  def oracleSpaced(jExpr: String): String =
    s"'  ' || regexp_replace($jExpr, '(.)', '\\1  ', 'g')"

  /** SQL expression: the merge chain over a spaced symbol stream — one
    * `replace(' a  b ', ' ab ')` per rule, in table order. The one-space
    * boundaries inside the pattern consume half of each two-space
    * separator and the replacement restores them, so replace-all IS the
    * left-to-right non-overlapping merge pass (see [[BpeStats]] scaladoc).
    */
  def oracleMergeChain(spacedExpr: String,
                       merges: Seq[(String, String)] = defaultMerges): String =
    merges.foldLeft(spacedExpr) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }

  /** SQL expression: symbol count of a merged stream `mExpr` given its
    * joined-word column `jExpr` — non-space units minus the `|`
    * word-boundary symbols. 0 for an empty document.
    */
  def oracleBpeCount(mExpr: String, jExpr: String): String =
    s"(len(regexp_extract_all($mExpr, '[^ ]+'))" +
      s" - (length($jExpr) - length(replace($jExpr, '|', ''))))"

  /** Complete per-document replay CTE body over a table: yields columns
    * (keyCols..., n_words, n_chars, n_bpe) — the `bpe1` oracle and the
    * token-grain input of the tb2/pk2/cur3 oracles.
    */
  def oracleStatsSelect(tableExpr: String, keyCols: Seq[String]): String = {
    val keys = keyCols.mkString(", ")
    s"""WITH _bpe_j AS (SELECT $keys, ${oracleJoinedWords("text")} AS _j
       | FROM $tableExpr),
       |_bpe_m AS (SELECT $keys, _j,
       |  ${oracleMergeChain(oracleSpaced("_j"))} AS _m FROM _bpe_j)
       |SELECT $keys,
       | CAST(len(regexp_extract_all(_j, '[^|]+')) AS INTEGER) AS n_words,
       | CAST(length(replace(_j, '|', '')) AS INTEGER) AS n_chars,
       | CAST(${oracleBpeCount("_m", "_j")} AS INTEGER) AS n_bpe
       |FROM _bpe_m""".stripMargin
  }
}
