package graft.engine.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** graft's table functions and their kernels.
  *
  * Every kernel has ONE shape: a case-class front
  * (`X(child, consts…) extends UnaryExpression with Kernel`) and one
  * static run method holding the kernel's only evaluation body. The front
  * carries what analysis needs — argument types ([[Kernel]]'s
  * `inputTypes`), the SQL name, the constants folded by the builder — and
  * nothing else: the optimizer's `ReplaceExpressions` swaps it for its
  * `replacement`, a Spark `StaticInvoke` of the run method, before any
  * evaluation. Whole-stage codegen then emits a direct call to that
  * method and interpreted evaluation reflects into the same method, so
  * the two modes cannot drift apart. Prepared constants (word masks, word
  * sets, the SRP matrix) reach the method as object literals; a NULL
  * argument yields NULL without a call.
  *
  * Each kernel's VALUE CONTRACT — what built-in chain it equals and on
  * which edges — is documented on its run method (`qdotRun`, `srpRun`,
  * `mysqlFieldsRun`, …; `MongoJson.parseLine`, `PyParity.check` /
  * `errorBranch` for the mongod kernels), next to the code it describes.
  * Kernels exist only where the built-in chain is semantically right but
  * measurably slow (SURVEY.md §4.3: a custom expression before any UDF).
  * [[OpaqueBarrier]] is not a kernel: its whole job is
  * `deterministic = false`, so it remains a hand-written expression.
  */
object NativeFunctions {

  /** The one kernel shape (see the object doc). `inputTypes` defaults to
    * one string argument; `nullable = true` in [[invoke]] marks a run
    * method that may return null for a non-null input. */
  trait Kernel extends RuntimeReplaceable with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)

    protected def invoke(owner: AnyRef, method: String, dataType: DataType,
                         args: Seq[Expression],
                         nullable: Boolean = false): Expression =
      StaticInvoke(owner.getClass, dataType, method, args,
        returnNullable = nullable)
  }

  /** `qdot_native(a, b)`: see [[qdotRun]]; the builder fixes `failOnError`
    * from the session's ANSI setting. */
  case class LongArrayDot(left: Expression, right: Expression,
      failOnError: Boolean = false)
      extends BinaryExpression with Kernel {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "qdotRun", LongType, Seq(left, right, Literal(failOnError)))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = QdotName
  }

  /** Exact BIGINT dot product of two array<bigint> values (positions past
    * the shorter array ignored; inputs here are always equal-length).
    *
    * The declarative form `aggregate(zip_with(a, b, multiply), sum)` is
    * semantically right but executes via interpreted lambda dispatch per
    * element — measurably slow when every candidate pair in an
    * ANN/near-dup query computes a 64-dim dot product.
    *
    * Overflow behavior follows `failOnError`, mirroring Spark's own
    * BinaryArithmetic: `false` wraps (LEGACY `*`/`+` semantics — safe for
    * the engine's quantized data, |q| <= ~2000 per component), `true`
    * raises Spark's ARITHMETIC_OVERFLOW (ANSI semantics) via
    * `MathUtils.multiplyExact`/`addExact`, so the kernel is a faithful
    * substitute for the declarative HOF form in ANSI sessions too.
    */
  def qdotRun(x: ArrayData, y: ArrayData, failOnError: Boolean): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    if (failOnError) {
      while (i < n) {
        acc = MathUtils.addExact(acc,
          MathUtils.multiplyExact(x.getLong(i), y.getLong(i)))
        i += 1
      }
    } else {
      while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    }
    acc
  }

  /** `srp_signature(q, coefs)`: see [[srpRun]]. The coefficient matrix
    * arrives as a FOLDABLE array<array<bigint>> literal, evaluated once
    * by the builder. */
  case class SrpSignature(child: Expression, coefs: Array[Array[Long]])
      extends UnaryExpression with Kernel {
    require(coefs.nonEmpty && coefs.length <= 63,
      s"srp_signature supports 1..63 planes, got ${coefs.length}")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "srpRun", LongType, Seq(child, Literal.fromObject(coefs)))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = SrpSignatureName
  }

  /** The FULL SRP signature in one call: bit p of the result is 1 iff
    * Σ_i q(i) · coefs(p)(i) > 0 — `coefs.length` hyperplane dots in one
    * constant-size nested loop.
    *
    * Exists because the declarative form — one chained
    * `CASE WHEN qdot(q, <64-literal array>) > 0 THEN 2^p` term per plane
    * — generates code LINEAR in the plane count, and at the sf10-derived
    * 44 planes the stage blows past Janino/JIT limits and silently falls
    * back to fully INTERPRETED evaluation (measured: the SRP occupancy
    * census, a linear projection+rollup, ran 43× sf1's time on 10× data;
    * with this kernel the generated code is one call at ANY plane count).
    * Overflow-free by construction: |dot| ≤ dims · 1000 ≪ 2^63.
    */
  def srpRun(q: ArrayData, coefs: Array[Array[Long]]): Long = {
    val n = q.numElements()
    var sig = 0L
    var p = 0
    while (p < coefs.length) {
      val row = coefs(p)
      val lim = math.min(n, row.length)
      var dot = 0L
      var i = 0
      while (i < lim) { dot += q.getLong(i) * row(i); i += 1 }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Identity wrapper the optimizer cannot see through: evaluates exactly
    * like its child (same value, same nulls, same codegen) but reports
    * `deterministic = false`, which blocks the two rewrites that
    * otherwise DUPLICATE an expensive child expression:
    *  - PushDownPredicate: a filter conjunct that substitutes to a
    *    nondeterministic expression is never pushed, so routing-flag
    *    filters keep testing materialized attributes instead of
    *    re-deriving from_json/parity/line-render per conjunct inside an
    *    interpreted Filter (observed: 11 from_json copies in ONE pushed
    *    filter — Spark 4.1 constant-folds the old `when(rand() < 0, …)`
    *    barrier away, so this expression is the reliable replacement);
    *  - CollapseProject: nondeterministic multi-referenced aliases are
    *    never inlined into consumers.
    * Evaluation-identical, so oracle parity is untouched.
    */
  case class OpaqueBarrier(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override lazy val deterministic: Boolean = false
    override def foldable: Boolean = false
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      child.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => c)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `mysql_entry_fields(entry)`: see [[mysqlFieldsRun]]. */
  case class MySqlEntryFields(child: Expression)
      extends UnaryExpression with Kernel {
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "mysqlFieldsRun", ArrayType(StringType, containsNull = true), Seq(child))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = MySqlFieldsName
  }

  /** Java-regex default-flag line terminators — the five code points a
    * non-DOTALL `.` refuses to match. */
  @inline private def isLineTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c.toInt == 0x0085 ||
      c.toInt == 0x2028 || c.toInt == 0x2029

  /** Index of the first line terminator at or after `j` (s.length when
    * the line runs to end-of-input). */
  private def lineEndFrom(s: String, j: Int): Int = {
    var t = j
    val n = s.length
    while (t < n && !isLineTerm(s.charAt(t))) t += 1
    t
  }

  private def utf8(s: String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  /** ≡ `find()` of `Q(prefix)(.*)`: first prefix occurrence, greedy
    * capture to the end of that line. */
  private def captureRestOfLine(s: String, prefix: String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val i = s.indexOf(prefix)
    if (i < 0) null
    else {
      val j = i + prefix.length
      utf8(s.substring(j, lineEndFrom(s, j)))
    }
  }

  /** ≡ `find()` of `Q(prefix)(.*?)Q(suffix)`: the capture cannot cross a
    * line terminator, so a start whose earliest suffix lies past one
    * fails and the scan resumes at the next prefix occurrence. */
  private def captureBetween(s: String, prefix: String, suffix: String)
      : org.apache.spark.unsafe.types.UTF8String = {
    var from = 0
    while (from <= s.length) {
      val i = s.indexOf(prefix, from)
      if (i < 0) return null
      val j = i + prefix.length
      val k = s.indexOf(suffix, j)
      if (k < 0) return null // no suffix after j ⇒ none after any later start
      if (k <= lineEndFrom(s, j)) return utf8(s.substring(j, k))
      from = i + 1 // terminator before the suffix: this start fails
    }
    null
  }

  /** ≡ `find()` of `Q(prefix)(.*?)\n`: the first terminator after the
    * prefix must be a literal \n (a \r or end-of-input fails the start). */
  private def captureUntilLf(s: String, prefix: String)
      : org.apache.spark.unsafe.types.UTF8String = {
    var from = 0
    while (from <= s.length) {
      val i = s.indexOf(prefix, from)
      if (i < 0) return null
      val j = i + prefix.length
      val le = lineEndFrom(s, j)
      if (le < s.length && s.charAt(le) == '\n')
        return utf8(s.substring(j, le))
      from = i + 1
    }
    null
  }

  /** ≡ `find()` of `(?s)SET timestamp=.*?;\n(.*?)(?=\n# Time:|\z)`. */
  private def captureQuery(s: String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val i = s.indexOf("SET timestamp=")
    if (i < 0) return null
    val p = s.indexOf(";\n", i + 14) // 14 = "SET timestamp=".length
    if (p < 0) return null // no ";\n" after the first start ⇒ none after any
    val m = p + 2
    val k = s.indexOf("\n# Time:", m)
    utf8(if (k >= 0) s.substring(m, k) else s.substring(m))
  }

  /** One char of [[Normalizers.PyWhitespaceClass]]: Java-regex `\s`
    * (ASCII), \x1C-\x1F, NEL, or Unicode category Z (Zs/Zl/Zp — all
    * BMP, so a char-wise test is exact). */
  @inline private def isPyWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' ||
      c == '\r' || (c >= 0x1C && c <= 0x1F) || c.toInt == 0x85 || {
        val t = Character.getType(c)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
          t == Character.PARAGRAPH_SEPARATOR
      }

  /** ≡ `regexp_replace(s, "^PY_WS+|PY_WS+$", "")` (null-preserving at
    * the call sites — callers pass non-null). */
  private def pyStripStr(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPyWs(s.charAt(a))) a += 1
    while (b > a && isPyWs(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** The word class Java's `\b` tests against WITHOUT
    * UNICODE_CHARACTER_CLASS: `'_' || Character.isLetterOrDigit(cp)` —
    * Unicode-aware even though `\w`/`\d` stay ASCII in the same mode
    * (openjdk Pattern.Bound; the kernel spec caught exactly this on
    * "é123": é is a word char for `\b`, so the digits keep no boundary
    * and survive the replace).
    */
  @inline private def isWordCp(cp: Int): Boolean =
    cp == '_'.toInt || Character.isLetterOrDigit(cp)

  /** Is the code point ENDING at `i` (exclusive) a `\b` word char —
    * surrogate-pair aware, false at the string edge. */
  private def wordBefore(s: String, i: Int): Boolean =
    if (i <= 0) false
    else {
      val c = s.charAt(i - 1)
      if (Character.isLowSurrogate(c) && i >= 2 &&
          Character.isHighSurrogate(s.charAt(i - 2)))
        isWordCp(s.codePointAt(i - 2))
      else isWordCp(c)
    }

  /** Is the code point STARTING at `j` a `\b` word char — surrogate-pair
    * aware, false at the string edge. */
  private def wordAfter(s: String, j: Int): Boolean =
    j < s.length && isWordCp(s.codePointAt(j))

  /** ≡ `upper(regexp_replace(q, "(\b\d+\b)|('[^']*')", "?"))` — the
    * MySQL fingerprint normalizer as one scan. A maximal ASCII digit
    * run (`\d` IS ASCII in default mode) replaces only when BOTH
    * neighbors are non-word per [[isWordCp]] (Java `\b` cannot split a
    * digit run: every interior position has word chars on both sides,
    * so "123abc"/"abc123" stay verbatim); a quote pair replaces
    * leftmost-non-overlapping with `[^']*` free to cross newlines; an
    * unclosed quote matches nothing and scanning continues inside it.
    * Upper parity comes from calling the same `UTF8String.toUpperCase`
    * Spark's `upper()` lowers to.
    */
  private def normalizeSqlStr(q: String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val n = q.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = q.charAt(i)
      if (c >= '0' && c <= '9' && !wordBefore(q, i)) {
        var j = i + 1
        while (j < n && q.charAt(j) >= '0' && q.charAt(j) <= '9') j += 1
        if (!wordAfter(q, j)) { sb.append('?'); i = j }
        else { sb.append(c); i += 1 } // run abuts a word char: no \b match
      } else if (c == '\'') {
        val j = q.indexOf('\'', i + 1)
        if (j >= 0) { sb.append('?'); i = j + 1 }
        else { sb.append(c); i += 1 } // unclosed: no match at this quote
      } else {
        sb.append(c)
        i += 1
      }
    }
    utf8(sb.toString).toUpperCase
  }

  /** All seven MySQL slow-log field captures in ONE pass — the
    * fused successor of running rlike + regexp_extract per pattern
    * (r16's `_stage_mysql_parsed` spent its build almost entirely in the
    * regex battery: 7 × `Matcher.find()` backtracking scans and 7 ×
    * `UTF8String.toString` copies of the same multi-hundred-byte entry).
    *
    * The seven patterns ([[graft.engine.mysql.MySqlLogPipeline]]) are
    * literal-anchored with a single capture each, so each is equivalent
    * to a deterministic `indexOf` scan. This kernel reproduces
    * `java.util.regex` `find()` semantics EXACTLY (the pinned contract;
    * MySqlFieldsKernelSpec holds it against the live regexes on
    * adversarial entries):
    *  - default-flag `.` excludes the five Java line terminators
    *    (\n \r U+0085 U+2028 U+2029), so a non-DOTALL capture cannot
    *    cross one — a start position whose suffix lies past a terminator
    *    FAILS and find() retries from the next prefix occurrence;
    *  - greedy `(.*)` takes the maximal non-terminator run; non-greedy
    *    `(.*?)` stops at the EARLIEST suffix/lookahead position;
    *  - the DOTALL query pattern's `.*?;\n` is the first ";\n" after
    *    "SET timestamp="; its `(?=\n# Time:|\z)` lookahead is the first
    *    "\n# Time:" after that, else end-of-input.
    *
    * The downstream per-entry regex work is fused in as well (it was 7
    * more regex executions per entry): elements 0/1/3/4/5/6 come back
    * PRE-STRIPPED (≡ `regexp_replace(c, "^PY_WS+|PY_WS+$", "")` over
    * [[graft.engine.expr.Normalizers.PyWhitespaceClass]] — a linear scan,
    * nullness preserved), element 2 is the RAW Query_time capture (the
    * warning message embeds it unstripped), and element 7 is the
    * normalized query (≡ `upper(regexp_replace(stripped_query,
    * "(\b\d+\b)|('[^']*')", "?"))` — the replace as a scan over Java's
    * ASCII \b/\d/\w classes, the upper via the same
    * `UTF8String.toUpperCase` Spark's `upper()` calls).
    *
    * Result: array<string> of 8 nullable elements
    * [time*, user_host*, query_time_raw, lock_time*, rows_sent*,
    * rows_examined*, query*, normalized_query*] (* = stripped) — NULL =
    * pattern did not match (≡ !rlike), never "" for a miss (group 1
    * always participates in these patterns). One toString per entry,
    * zero regex executions.
    */
  def mysqlFieldsRun(u: org.apache.spark.unsafe.types.UTF8String)
      : ArrayData = {
    val s = u.toString
    def stripped(v: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.unsafe.types.UTF8String =
      if (v == null) null else utf8(pyStripStr(v.toString))
    val q = captureQuery(s)
    val qs = stripped(q)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
      stripped(captureRestOfLine(s, "# Time: ")),
      stripped(captureBetween(s, "# User@Host: ", " thread_id:")),
      captureBetween(s, "# Query_time: ", " Lock_time:"),
      stripped(captureBetween(s, "Lock_time: ", " Rows_sent:")),
      stripped(captureBetween(s, "Rows_sent: ", " Rows_examined:")),
      stripped(captureUntilLf(s, "Rows_examined: ")),
      qs,
      if (qs == null) null else normalizeSqlStr(qs.toString)))
  }

  /** `lang_signal_counts(text, sets)`: see [[langSignalRun]]. The
    * word → set-bitmask lookup is built once per expression. */
  case class LangSignalCounts(child: Expression, sets: Seq[Seq[String]])
      extends UnaryExpression with Kernel {
    require(sets.nonEmpty && sets.length <= 62,
      s"$LangSignalName supports 1..62 word sets, got ${sets.length}")
    override lazy val replacement: Expression = {
      val mask = new java.util.HashMap[String, java.lang.Long]()
      for (k <- sets.indices; w <- sets(k)) {
        val lw = w.toLowerCase(java.util.Locale.ROOT)
        val prev = mask.get(lw)
        mask.put(lw, java.lang.Long.valueOf(
          (if (prev == null) 0L else prev.longValue()) | (1L << k)))
      }
      invoke(NativeFunctions, "langSignalRun",
        ArrayType(LongType, containsNull = false),
        Seq(child, Literal.fromObject(mask), Literal(sets.length),
          Literal(sets.iterator.flatten.map(_.length).max)))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = LangSignalName
  }

  /** Fused language-signal counter: ONE linear scan of the text replaces
    * the four independent `size(regexp_extract_all(...))` passes the
    * language-ID heuristic ran per document (r13 verdict ask #5 —
    * `text_langid` was the suite's biggest absolute row, 25.1 s at sf1 /
    * 57.4 s at sf10, shape-clean but 4× regex + 4 materialized match
    * arrays per row).
    *
    * Result: `array<bigint>` of length `sets.length + 1` — element k =
    * the number of word occurrences from set k, last element = the
    * number of Han-script characters.
    *
    * WORD-BOUNDARY SEMANTICS (r14 ADVICE — stated, not assumed): the
    * scan counts "maximal ASCII-`[A-Za-z0-9_]+` runs whose lowercase
    * form is in the set" — the ASCII `\b` of RE2/DuckDB, which is what
    * the oracle gate replays. This DELIBERATELY diverges from Java's
    * default `\b` (whose boundary test is Unicode-aware via
    * `Character.isLetterOrDigit || '_'`): a set word directly abutting
    * a non-ASCII letter or digit (`"queла"`, `"the中文"`) COUNTS here
    * and under RE2, but did not under the Java-regex battery this scan
    * replaced. The ASCII-boundary reading is the pinned contract
    * (NativeTextScanSpec holds a parity doc for exactly this case);
    * the remaining semantics are shared with the old battery:
    *  - `(?i)` on pure-ASCII patterns is ASCII case folding =
    *    lowercase compare;
    *  - `\p{IsHan}` counts every code point of script Han —
    *    `Character.UnicodeScript.of(cp) == HAN`, surrogate pairs
    *    handled via codePointAt/charCount exactly like the regex engine.
    *
    * One `toString` per document (each regexp call paid its own), zero
    * match-array allocations; tokens longer than the longest set word
    * skip the lookup entirely. The lookup maps word → BITMASK of the
    * sets containing it, so words shared across languages (la/de/que/un
    * appear in both the es and fr inventories) count into every set
    * exactly as the independent regex passes did.
    */
  def langSignalRun(s: org.apache.spark.unsafe.types.UTF8String,
                    mask: java.util.HashMap[String, java.lang.Long],
                    nSets: Int, maxLen: Int): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](nSets + 1)
    val n = str.length
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      val isWord = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
      if (isWord) {
        var j = i + 1
        while (j < n && {
          val d = str.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
            (d >= '0' && d <= '9') || d == '_'
        }) j += 1
        val len = j - i
        if (len <= maxLen) {
          val buf = new Array[Char](len)
          var k = 0
          while (k < len) {
            val ch = str.charAt(i + k)
            buf(k) = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
            k += 1
          }
          val m = mask.get(new String(buf))
          if (m != null) {
            var mm = m.longValue()
            var b = 0
            while (mm != 0L) {
              if ((mm & 1L) != 0L) counts(b) += 1L
              mm >>>= 1
              b += 1
            }
          }
        }
        i = j
      } else {
        val cp = str.codePointAt(i)
        if (Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)
          counts(nSets) += 1L
        i += Character.charCount(cp)
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** `text_stat_counts(text, words)`: see [[textStatRun]]. The
    * lowercase word set is built once per expression. */
  case class TextStatCounts(child: Expression, words: Seq[String])
      extends UnaryExpression with Kernel {
    override lazy val replacement: Expression = {
      val set = new java.util.HashSet[String]()
      words.foreach(w => set.add(w.toLowerCase(java.util.Locale.ROOT)))
      invoke(NativeFunctions, "textStatRun",
        ArrayType(LongType, containsNull = false),
        Seq(child, Literal.fromObject(set),
          Literal(if (words.isEmpty) 0 else words.iterator.map(_.length).max)))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = TextStatName
  }

  /** Fused per-document text statistics: ONE linear scan replaces the
    * FIVE independent regex/split passes of the analyze projection
    * (r14; the same treatment [[langSignalRun]] gave the language-ID
    * battery — `text_analyze` was the #2 absolute sf10 row at 101.5 s).
    *
    * Result: `array<bigint>` of
    * `[n_tokens_ws, n_tokens_bpe, n_punct, n_upper, stopword_hits]`.
    *
    * Semantics are BIT-IDENTICAL to the battery it replaces, modeled on
    * Java's regex definitions (the same defaults Spark's regexp
    * functions compile with — `\s`/`\w`/`[A-Z]` are ASCII classes,
    * negated classes consume whole code points):
    *  - `n_tokens_ws` = non-empty segments of `split(text, "\\s+")` =
    *    maximal runs of non-`\s` code points;
    *  - `n_tokens_bpe` = matches of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`:
    *    maximal ASCII-letter runs + maximal digit runs + one per other
    *    non-`\s` code point (underscore, accents, CJK, NBSP — each a
    *    single third-alternative match);
    *  - `n_punct` = `[^A-Za-z0-9\s]` code points;
    *  - `n_upper` = ASCII `[A-Z]`;
    *  - `stopword_hits` = maximal ASCII-`\w` runs whose lowercase form
    *    is in the set — the ASCII-boundary `\b` of RE2/the oracle,
    *    deliberately NOT Java's Unicode-aware `\b`; see the
    *    [[langSignalRun]] word-boundary contract (the one place the
    *    fused scans diverge from the Java-regex battery they replaced).
    */
  def textStatRun(s: org.apache.spark.unsafe.types.UTF8String,
                  words: java.util.HashSet[String],
                  maxLen: Int): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](5)
    val n = str.length
    var i = 0
    var prevLetter = false
    var prevDigit = false
    var prevNonWs = false
    var inWord = false
    var wordStart = 0
    def checkWord(end: Int): Unit = {
      val len = end - wordStart
      if (len <= maxLen) {
        val buf = new Array[Char](len)
        var k = 0
        while (k < len) {
          val ch = str.charAt(wordStart + k)
          buf(k) = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
          k += 1
        }
        if (words.contains(new String(buf))) counts(4) += 1L
      }
    }
    while (i < n) {
      val cp = str.codePointAt(i)
      val isLetter = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val isDigit = cp >= '0' && cp <= '9'
      // Java regex \s — the ASCII class [ \t\n\x0B\f\r], NOT Unicode
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!isWs && !prevNonWs) counts(0) += 1L
      if (isLetter && !prevLetter) counts(1) += 1L
      if (isDigit && !prevDigit) counts(1) += 1L
      if (!isLetter && !isDigit && !isWs) { counts(1) += 1L; counts(2) += 1L }
      if (cp >= 'A' && cp <= 'Z') counts(3) += 1L
      val isWord = isLetter || isDigit || cp == '_'
      if (isWord && !inWord) { wordStart = i; inWord = true }
      else if (!isWord && inWord) { checkWord(i); inWord = false }
      prevLetter = isLetter
      prevDigit = isDigit
      prevNonWs = !isWs
      i += Character.charCount(cp)
    }
    if (inWord) checkWord(n)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** `word_rep_counts(tokens | text)`: see [[wordRepRun]]; a string
    * argument runs [[wordRepRunText]] instead. */
  case class WordRepCounts(child: Expression)
      extends UnaryExpression with Kernel {
    private def fromText: Boolean = child.dataType == StringType
    override def inputTypes: Seq[DataType] =
      Seq(if (fromText) StringType else ArrayType(StringType))
    override lazy val replacement: Expression = invoke(NativeFunctions,
      if (fromText) "wordRepRunText" else "wordRepRun",
      ArrayType(LongType, containsNull = false), Seq(child))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = WordRepName
  }

  /** Shared counting core of [[wordRepRun]] and [[wordRepRunText]]: tokens stream in as
    * dense ids, grams are dense-id composites — every distinct count is
    * exact (no hashing of content into a fixed width anywhere).
    */
  private final class WordRepAcc(sizeHint: Int) {
    private val ids =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    private var counts = new Array[Long](16)
    private var pos = new Array[Int](math.max(sizeHint, 16))
    private var n = 0

    def add(s: org.apache.spark.unsafe.types.UTF8String): Unit = {
      var id = ids.get(s)
      if (id == null) {
        id = Integer.valueOf(ids.size())
        ids.put(s, id)
        if (id.intValue() >= counts.length)
          counts = java.util.Arrays.copyOf(counts, counts.length * 2)
      }
      counts(id.intValue()) += 1L
      if (n >= pos.length) pos = java.util.Arrays.copyOf(pos, pos.length * 2)
      pos(n) = id.intValue()
      n += 1
    }

    def result(): ArrayData = {
      val distinct = ids.size()
      var top = 0L
      var k = 0
      while (k < distinct) { if (counts(k) > top) top = counts(k); k += 1 }
      // 2-grams: dense gram ids (map value) double as the 3-gram prefix
      val gram2 = new java.util.HashMap[java.lang.Long, Integer]()
      val g2pos = if (n >= 2) new Array[Int](n - 1) else null
      var j = 0
      while (j + 1 < n) {
        val key = (pos(j).toLong << 32) | (pos(j + 1).toLong & 0xffffffffL)
        var g = gram2.get(key)
        if (g == null) { g = Integer.valueOf(gram2.size()); gram2.put(key, g) }
        g2pos(j) = g.intValue()
        j += 1
      }
      val set3 = new java.util.HashSet[java.lang.Long]()
      j = 0
      while (j + 2 < n) {
        set3.add((g2pos(j).toLong << 32) | (pos(j + 2).toLong & 0xffffffffL))
        j += 1
      }
      val n2 = if (n >= 2) (n - 1).toLong else 0L
      val n3 = if (n >= 3) (n - 2).toLong else 0L
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Long](n.toLong, distinct.toLong, top,
          n2, gram2.size().toLong, n3, set3.size().toLong))
    }
  }

  /** Single-pass Gopher-repetition counters over a token array (r16 —
    * the [[textStatRun]] treatment applied to `text_repetition`):
    * [n_words, n_distinct_words, top_word_cnt, n2, d2, n3, d3] in ONE
    * compiled scan of the tokens. The previous shape paid TWO shuffles
    * (explode → (doc, word) agg → doc agg) for the word stats and two
    * interpreted higher-order transforms building 2/3-gram STRINGS plus
    * array_distinct over them for the gram stats — all of it per-doc
    * local work that never needed an exchange.
    *
    * Exactness contract (the oracle counts distinct gram STRINGS
    * `t[i] || ' ' || t[i+1]`): tokens are whitespace-split, so the
    * joined gram string is injective in the token tuple, and the kernel
    * counts distinct tuples via DENSE WORD IDS — a 2-gram is the long
    * (idA << 32 | idB), a 3-gram is (dense 2-gram id << 32 | idC) —
    * never a lossy hash, so the counts are bit-identical to the string
    * form at any input. Empty/null tokens are skipped, which makes
    * `word_rep_counts(split(lower(text), '\\s+'))` equal to the
    * filtered wsTokens form without the interpreted filter() HOF.
    */
  def wordRepRun(arr: ArrayData): ArrayData = {
    val total = arr.numElements()
    val acc = new WordRepAcc(total)
    var i = 0
    while (i < total) {
      val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (s != null && s.numBytes() > 0) acc.add(s)
      i += 1
    }
    acc.result()
  }

  /** Text-input form of [[wordRepRun]]: lowercases via the SAME
    * UTF8String.toLowerCase Spark's `lower()` calls, then splits on runs
    * of Java-regex `\s` (space, tab, LF, VT, FF, CR — ASCII bytes, which in
    * UTF-8 never occur inside a multi-byte character, so byte-position
    * splitting is exact) — value-identical to
    * `word_rep_counts(split(lower(text), '\s+'))` without the regex
    * engine or the per-document token-array materialization.
    */
  def wordRepRunText(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val lower = s.toLowerCase
    val b = lower.getBytes
    val len = b.length
    val acc = new WordRepAcc(16)
    var i = 0
    var start = -1
    while (i < len) {
      val c = b(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0B ||
        c == '\f' || c == '\r'
      if (ws) {
        if (start >= 0) {
          acc.add(org.apache.spark.unsafe.types.UTF8String
            .fromBytes(b, start, i - start))
          start = -1
        }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0)
      acc.add(org.apache.spark.unsafe.types.UTF8String
        .fromBytes(b, start, len - start))
    acc.result()
  }

  /** `winnow_karp_rabin(text, w)`: see [[winnowRun]]. */
  case class WinnowKarpRabin(child: Expression, w: Int)
      extends UnaryExpression with Kernel {
    require(w >= 1 && w <= 4096, s"$WinnowName: window must be 1..4096, got $w")
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "winnowRun", StructType(Seq(
        StructField("fingerprint_h", LongType, nullable = false),
        StructField("n_distinct_windows", IntegerType, nullable = false))),
      Seq(child, Literal(w)))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = WinnowName
  }

  /** `md5_prefix_long(text, hexChars)`: see [[md5PrefixRun]]. */
  case class Md5PrefixLong(child: Expression, hexChars: Int)
      extends UnaryExpression with Kernel {
    require(hexChars >= 1 && hexChars <= 15,
      s"$Md5PrefixName: hexChars must be 1..15 (a BIGINT holds < 16), got $hexChars")
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "md5PrefixRun", LongType, Seq(child, Literal(hexChars)))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = Md5PrefixName
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `hexChars` hex digits of md5 as a BIGINT — VALUE-IDENTICAL to
    * `conv(substring(md5(c), 1, hexChars), 16, 10)` (Md5PrefixSpec pins
    * the equality), without that chain's allocations: the built-in form
    * materializes a 32-char hex string, a substring copy and a conv
    * parse PER ROW, and the resulting allocation churn — not the md5
    * arithmetic — dominated the shingle pipelines at decade scale
    * (r15 measured the cold sf10 candidate build at 74.5 s through the
    * hex chain vs 31.6 s through an allocation-free hash; md5 itself
    * prices at ~5 CPU-seconds for the whole corpus). One thread-local
    * MessageDigest, one 16-byte digest array per row, top bits taken
    * big-endian — the md5 VALUE is unchanged, so every DuckDB oracle
    * replays `('0x' || substring(md5(s), 1, N))::BIGINT` exactly as
    * before.
    * Digests the UTF-8 bytes and takes the top 4·hexChars bits of the
    * big-endian digest — the value of `substring(md5hex, 1, hexChars)`
    * parsed base-16, bit-for-bit.
    */
  def md5PrefixRun(s: org.apache.spark.unsafe.types.UTF8String,
                   hexChars: Int): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var hi = 0L
    var k = 0
    while (k < 8) { hi = (hi << 8) | (d(k) & 0xffL); k += 1 }
    hi >>> (64 - 4 * hexChars)
  }

  /** Reusable 16-byte digest output for the tokenizing kernels below
    * (md5 per token/window, thousands per row — `md.digest()`'s fresh
    * array each call is measurable garbage at that rate).
    */
  private val md5Out = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** Byte-scan tokenizer shared by the shingle and SimHash kernels:
    * lowercase via `UTF8String.toLowerCase` (exactly Spark's `lower()`
    * under the default UTF8_BINARY collation), then token = maximal run
    * of non-`\s` BYTES, where `\s` is Java regex's ASCII class
    * `[ \t\n\x0B\f\r]` — the byte ranges are bit-identical to the
    * elements of `filter(split(lower(text), "\\s+"), _ != "")`
    * re-encoded as UTF-8, because all six `\s` bytes are ASCII and can
    * never occur inside a multi-byte UTF-8 sequence. Fills `starts`/
    * `ends` (token i = bytes [starts(i), ends(i))) and returns the
    * token count; arrays grow geometrically and are reused per thread.
    */
  private final class TokenRanges {
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    def tokenize(bytes: Array[Byte]): Int = {
      var n = 0
      var i = 0
      val len = bytes.length
      while (i < len) {
        val b = bytes(i)
        val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
          b == '\f' || b == '\r'
        if (!ws) {
          val s = i
          var j = i
          while (j < len && {
            val c = bytes(j)
            !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B ||
              c == '\f' || c == '\r')
          }) j += 1
          if (n >= starts.length) {
            starts = java.util.Arrays.copyOf(starts, starts.length * 2)
            ends = java.util.Arrays.copyOf(ends, ends.length * 2)
          }
          starts(n) = s; ends(n) = j; n += 1
          i = j
        } else i += 1
      }
      n
    }
  }
  private val tokenRanges = new ThreadLocal[TokenRanges] {
    override def initialValue(): TokenRanges = new TokenRanges
  }

  /** `shingle_hashes(text, n, hexChars)`: every positional n-token shingle's
    * md5 prefix (`hexChars` hex digits as BIGINT) in ONE scan —
    * element i = `md5_prefix_long(concat_ws(' ', tok_i..tok_{i+n-1}),
    * hexChars)` over the [[TokenRanges]] tokens of `lower(text)`. The
    * digest streams the token byte ranges plus single 0x20 separators,
    * so the shingle STRING is never materialized (the legacy form
    * allocated a token array, n `element_at` calls and a concat per
    * position). Docs with < n tokens return an EMPTY array: the
    * consumers explode, so they produce no rows — exactly the
    * `filter(size(toks) >= n)` the legacy form applied.
    */
  def shingleHashRun(s: org.apache.spark.unsafe.types.UTF8String,
                     n: Int, hexChars: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      shingleHashArray(s, n, hexChars))

  private def shingleHashArray(s: org.apache.spark.unsafe.types.UTF8String,
                               n: Int, hexChars: Int): Array[Long] = {
    val bytes = s.toLowerCase.getBytes
    val tr = tokenRanges.get()
    val t = tr.tokenize(bytes)
    if (t < n) return Array.emptyLongArray
    val md = md5Digest.get()
    val d = md5Out.get()
    val out = new Array[Long](t - n + 1)
    val shift = 64 - 4 * hexChars
    var w = 0
    while (w + n <= t) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(0x20.toByte)
        md.update(bytes, tr.starts(w + j), tr.ends(w + j) - tr.starts(w + j))
        j += 1
      }
      md.digest(d, 0, 16)
      val hi =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(w) = hi >>> shift
      w += 1
    }
    out
  }

  /** `shingle_hash_set(text, n, hexChars)`: the DISTINCT shingle hashes of one
    * document, ascending. Computes the same positional values as
    * [[shingleHashRun]], then sorts and compacts in place — a per-doc
    * dedup at the scan. Exactness: a downstream global
    * `distinct (doc_id, sh_h)` partitions by doc_id anyway, so per-doc
    * dedup produces the IDENTICAL row set with zero exchanges (the
    * consumers that used to pay a distinct shuffle read these arrays
    * directly). Output order is ascending hash — consumers explode into
    * aggregations, so order never reaches a result.
    */
  def shingleHashSetRun(s: org.apache.spark.unsafe.types.UTF8String,
                        n: Int, hexChars: Int): ArrayData = {
    val a = shingleHashArray(s, n, hexChars)
    if (a.length > 1) {
      java.util.Arrays.sort(a)
      var w = 1
      var i = 1
      while (i < a.length) {
        if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
        i += 1
      }
      if (w < a.length)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          java.util.Arrays.copyOf(a, w))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(a)
  }

  /** `simhash_sig(text, bands, bitsPerBand)`: the whole per-document SimHash signature
    * in ONE scan — one md5 digest per token (BOTH 60-bit halves read
    * from the same digest; the legacy column form ran the digest twice
    * per token), ±1 votes accumulated locally, band-packed exactly as
    * `Dedup.simhashSigAt` packs them (bit j of band b set when
    * 2·ones[b·bpb+j] > n). Returns null for a document with ZERO
    * tokens — the legacy explode+groupBy emitted no row for those, so
    * callers filter nulls to keep row sets identical.
    */
  def simhashSigRun(s: org.apache.spark.unsafe.types.UTF8String,
                    bands: Int, bitsPerBand: Int): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val tr = tokenRanges.get()
    val t = tr.tokenize(bytes)
    if (t == 0) return null
    val total = bands * bitsPerBand
    val ones = new Array[Int](total)
    val md = md5Digest.get()
    val d = md5Out.get()
    var i = 0
    while (i < t) {
      md.reset()
      md.update(bytes, tr.starts(i), tr.ends(i) - tr.starts(i))
      md.digest(d, 0, 16)
      val hi =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val lo =
        ((d(8) & 0xffL) << 56) | ((d(9) & 0xffL) << 48) |
        ((d(10) & 0xffL) << 40) | ((d(11) & 0xffL) << 32) |
        ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
      // the two 60-bit md5 halves, exactly
      // conv(substring(md5(tok), 1 | 16, 15), 16, 10)
      val h0 = hi >>> 4
      val h1 = ((hi << 60) | (lo >>> 4)) >>> 4
      var p = 0
      while (p < total) {
        val h = if (p < 60) h0 else h1
        ones(p) += ((h >>> (p % 60)) & 1L).toInt
        p += 1
      }
      i += 1
    }
    val sig = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = 0
      while (j < bitsPerBand) {
        if (2L * ones(b * bitsPerBand + j) > t) acc += (1L << j)
        j += 1
      }
      sig(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** `shingle_hashes(text, n, hexChars)`: see [[shingleHashRun]]. */
  case class ShingleHashes(child: Expression, n: Int, hexChars: Int)
      extends UnaryExpression with Kernel {
    require(n >= 1, s"$ShingleHashName: n must be >= 1, got $n")
    require(hexChars >= 1 && hexChars <= 15,
      s"$ShingleHashName: hexChars must be 1..15, got $hexChars")
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "shingleHashRun", ArrayType(LongType, containsNull = false),
      Seq(child, Literal(n), Literal(hexChars)))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = ShingleHashName
  }

  /** `shingle_hash_set(text, n, hexChars)`: see [[shingleHashSetRun]]. */
  case class ShingleHashSet(child: Expression, n: Int, hexChars: Int)
      extends UnaryExpression with Kernel {
    require(n >= 1, s"$ShingleHashSetName: n must be >= 1, got $n")
    require(hexChars >= 1 && hexChars <= 15,
      s"$ShingleHashSetName: hexChars must be 1..15, got $hexChars")
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "shingleHashSetRun", ArrayType(LongType, containsNull = false),
      Seq(child, Literal(n), Literal(hexChars)))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = ShingleHashSetName
  }

  /** `simhash_sig(text, bands, bitsPerBand)`: see [[simhashSigRun]]
    * (NULL for zero-token docs; callers filter). */
  case class SimhashSig(child: Expression, bands: Int, bitsPerBand: Int)
      extends UnaryExpression with Kernel {
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 60 &&
      bands * bitsPerBand <= 120,
      s"$SimhashSigName: need 1 <= bitsPerBand <= 60 and bands * " +
        s"bitsPerBand <= 120 (two md5 halves); got $bands x $bitsPerBand")
    override lazy val replacement: Expression = invoke(NativeFunctions,
      "simhashSigRun", ArrayType(LongType, containsNull = false),
      Seq(child, Literal(bands), Literal(bitsPerBand)), nullable = true)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = SimhashSigName
  }

  /** 2⁶¹ − 1, the Karp-Rabin modulus (Mersenne: `x mod M` reduces by
    * shift-and-add, and `a · b mod M` needs only a 64×64→128 multiply —
    * `Math.multiplyHigh` here, HUGEINT in the oracle's replay).
    */
  val KrMod: Long = 2305843009213693951L
  /** Karp-Rabin radix: any value > max code point's contribution works;
    * 257 is the classic byte-alphabet prime. */
  val KrBase: Long = 257L

  /** a · b mod (2⁶¹ − 1) for a, b ∈ [0, M): split the 128-bit product at
    * bit 61 (2⁶¹ ≡ 1 mod M, so the high part folds in by addition). */
  private def krMulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // product = hi·2⁶⁴ + lo; (product >> 61) = (hi << 3) | (lo >>> 61)
    var r = (lo & KrMod) + ((hi << 3) | (lo >>> 61))
    if (r >= KrMod) r -= KrMod
    if (r >= KrMod) r -= KrMod
    r
  }

  /** Karp-Rabin winnowing fingerprint: the min and distinct count of the
    * polynomial rolling hash of every `w`-code-point window of the text,
    * in ONE scan — `struct<fingerprint_h: bigint, n_distinct_windows:
    * int>`.
    *
    * Replaces the md5-per-window form (r14 verdict ask #3: one md5 per
    * CHARACTER made `text_winnow` the worst decade ratio in the suite,
    * 9.9×/39.4 s at sf10 — ~100× the per-byte cost of any other scan).
    * The hash is the textbook Karp-Rabin polynomial over Unicode CODE
    * POINTS,
    *
    *   H(c₀…c_{w−1}) = Σ cᵢ · B^{w−1−i}  mod  M,
    *   B = 257, M = 2⁶¹ − 1 (Mersenne),
    *
    * advanced in O(1) per window by the classic subtract-leading /
    * multiply / add-trailing update — exact modular arithmetic, so the
    * rolling form is VALUE-IDENTICAL to hashing each window
    * independently (WinnowSpec asserts it against a naive fold). M fits
    * HUGEINT arithmetic, so DuckDB replays the identical values with
    * `(h::HUGEINT * 257 + c) % M` folds — the fingerprint stays
    * oracle-exact, like the md5 form was. 61-bit hashes keep cross-doc
    * min-fingerprint collisions (the clustering key of
    * `dedup_winnow_clusters`) as improbable as the 60-bit md5 prefixes
    * they replace; a narrower word (e.g. 31-bit) would manufacture
    * ~n²·nWin/2³¹ false clusters at crawl scale because MIN-selection
    * concentrates the fingerprint distribution near 0.
    *
    * Window rule (replicated from the md5 form): texts of at least `w`
    * code points hash every full window (n − w + 1 of them); shorter
    * texts — including empty — hash ONCE over all their code points
    * (the old `substr(i, w)` truncation), with H(empty) = 0.
    *
    * SWITCHING COST: fingerprint VALUES are incomparable with the md5
    * build — recluster, don't mix (an index REBUILD, exactly like a
    * SimHash width change).
    *
    * Min and distinct count come from one in-place sort of the window
    * hashes: primitive longs, no boxing, no per-window string or hash-set
    * allocation.
    */
  def winnowRun(s: org.apache.spark.unsafe.types.UTF8String,
                w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val cps = new Array[Int](str.length)
    var n = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    val nWin = if (n <= w) 1 else n - w + 1
    val hashes = new Array[Long](nWin)
    var h = 0L
    val w0 = math.min(n, w)
    i = 0
    while (i < w0) {
      h = krMulMod(h, KrBase) + cps(i)
      if (h >= KrMod) h -= KrMod
      i += 1
    }
    hashes(0) = h
    if (nWin > 1) {
      var bw = 1L // B^(w-1) mod M
      var e = 0
      while (e < w - 1) { bw = krMulMod(bw, KrBase); e += 1 }
      var k = 1
      while (k < nWin) {
        h -= krMulMod(cps(k - 1).toLong, bw)
        if (h < 0L) h += KrMod
        h = krMulMod(h, KrBase) + cps(k + w - 1)
        if (h >= KrMod) h -= KrMod
        hashes(k) = h
        k += 1
      }
    }
    java.util.Arrays.sort(hashes)
    var distinct = 1
    var j = 1
    while (j < nWin) {
      if (hashes(j) != hashes(j - 1)) distinct += 1
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hashes(0), distinct))
  }

  val QdotName = "qdot_native"
  val SrpSignatureName = "srp_signature"
  val PyCheckName = "py_parity_check"
  val PyErrorBranchName = "py_error_branch"
  val OpaqueName = "graft_opaque"
  val LangSignalName = "lang_signal_counts"
  val TextStatName = "text_stat_counts"
  val WinnowName = "winnow_karp_rabin"
  val Md5PrefixName = "md5_prefix_long"
  val WordRepName = "word_rep_counts"
  val MySqlFieldsName = "mysql_entry_fields"
  val ShingleHashName = "shingle_hashes"
  val ShingleHashSetName = "shingle_hash_set"
  val SimhashSigName = "simhash_sig"

  /** `shingle_hashes(text, n, hexChars)` builder: both knobs must be
    * foldable integer literals. */
  def buildShingleHashes(exprs: Seq[Expression]): Expression = {
    checkArity(ShingleHashName, 3, exprs)
    ShingleHashes(exprs(0),
      foldableInt(ShingleHashName, "n", exprs(1)),
      foldableInt(ShingleHashName, "hexChars", exprs(2)))
  }

  /** `shingle_hash_set(text, n, hexChars)` builder: both knobs must be
    * foldable integer literals. */
  def buildShingleHashSet(exprs: Seq[Expression]): Expression = {
    checkArity(ShingleHashSetName, 3, exprs)
    ShingleHashSet(exprs(0),
      foldableInt(ShingleHashSetName, "n", exprs(1)),
      foldableInt(ShingleHashSetName, "hexChars", exprs(2)))
  }

  /** `simhash_sig(text, bands, bitsPerBand)` builder: both knobs must
    * be foldable integer literals. */
  def buildSimhashSig(exprs: Seq[Expression]): Expression = {
    checkArity(SimhashSigName, 3, exprs)
    SimhashSig(exprs(0),
      foldableInt(SimhashSigName, "bands", exprs(1)),
      foldableInt(SimhashSigName, "bitsPerBand", exprs(2)))
  }

  private def foldableInt(fn: String, what: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $what must be foldable")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be integral, got $other")
    }
  }

  /** `md5_prefix_long(text, hexChars)` builder: the width must be a
    * foldable integer literal. */
  def buildMd5Prefix(exprs: Seq[Expression]): Expression = {
    checkArity(Md5PrefixName, 2, exprs)
    Md5PrefixLong(exprs(0), foldableInt(Md5PrefixName, "width", exprs(1)))
  }

  /** `winnow_karp_rabin(text, w)` builder: the window width must be a
    * foldable integer literal (it sizes the rolling update).
    */
  def buildWinnow(exprs: Seq[Expression]): Expression = {
    checkArity(WinnowName, 2, exprs)
    WinnowKarpRabin(exprs(0),
      foldableInt(WinnowName, "the window width", exprs(1)))
  }

  /** `text_stat_counts(text, words)` builder: the stopword set must be a
    * foldable array<string> literal.
    */
  def buildTextStat(exprs: Seq[Expression]): Expression = {
    checkArity(TextStatName, 2, exprs)
    require(exprs(1).foldable,
      s"$TextStatName: the word set must be foldable")
    val ad = exprs(1).eval().asInstanceOf[ArrayData]
    // IndexedSeq, not Array: case-class equality on the word set must be
    // by CONTENT so identical calls canonicalize equal and Catalyst can
    // reuse subexpressions (r14 ADVICE — Array fields compare by
    // reference and defeat CSE).
    val words = IndexedSeq.tabulate(ad.numElements())(w =>
      ad.getUTF8String(w).toString)
    TextStatCounts(exprs(0), words)
  }

  /** `lang_signal_counts(text, sets)` builder: the word-set matrix must
    * be a foldable array<array<string>> literal (folded once at
    * resolution, like SrpSignature's coefficients).
    */
  def buildLangSignal(exprs: Seq[Expression]): Expression = {
    checkArity(LangSignalName, 2, exprs)
    require(exprs(1).foldable,
      s"$LangSignalName: the word-set matrix must be foldable")
    val ad = exprs(1).eval().asInstanceOf[ArrayData]
    // content-equal IndexedSeqs for canonicalization — see buildTextStat
    val sets = IndexedSeq.tabulate(ad.numElements()) { k =>
      val row = ad.getArray(k)
      IndexedSeq.tabulate(row.numElements())(w =>
        row.getUTF8String(w).toString)
    }
    LangSignalCounts(exprs(0), sets)
  }

  /** A wrong argument count must fail analysis with the standard
    * WRONG_NUM_ARGS AnalysisException, not an IndexOutOfBoundsException
    * from the builder indexing exprs(0)/exprs(1) blind.
    */
  def checkArity(name: String, expected: Int, exprs: Seq[Expression]): Unit =
    if (exprs.length != expected)
      throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** `qdot_native(a, b)` builder: overflow semantics follow the session's
    * ANSI setting at analysis time, exactly like a built-in `*`/`+` would.
    */
  def buildQdot(exprs: Seq[Expression]): Expression = {
    checkArity(QdotName, 2, exprs)
    LongArrayDot(exprs(0), exprs(1),
      failOnError = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  }

  /** `srp_signature(q, coefs)` builder: the coefficient matrix must be a
    * foldable array<array<bigint>> literal. */
  def buildSrpSignature(exprs: Seq[Expression]): Expression = {
    checkArity(SrpSignatureName, 2, exprs)
    require(exprs(1).foldable,
      s"$SrpSignatureName: the coefficient matrix must be foldable")
    val ad = exprs(1).eval().asInstanceOf[ArrayData]
    SrpSignature(exprs(0),
      Array.tabulate(ad.numElements())(p => ad.getArray(p).toLongArray()))
  }

  /** One engine function: its SQL name, the DESCRIBE FUNCTION text, and
    * the analysis-time builder. */
  final case class GraftFunction(name: String, usage: String, example: String,
                                 builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, s"$name - $usage", s"Examples: $example")
  }

  private def unary(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = exprs => {
    checkArity(name, 1, exprs)
    f(exprs(0))
  }

  /** Every function graft installs — the ONE table both installers read:
    * [[graft.GraftExtensions]] injects it into each session the builder
    * constructs, and [[ensureRegistered]] registers it on a session
    * built without the extension.
    */
  val Functions: Seq[GraftFunction] = Seq(
    GraftFunction(QdotName,
      "exact BIGINT dot product of two array<bigint> columns (codegen'd)",
      "_FUNC_(array(1L,2L), array(3L,4L)) -> 11", buildQdot),
    GraftFunction(SrpSignatureName,
      "sign-random-projection signature as BIGINT: bit p is set iff " +
        "the array<bigint> vector's dot with literal plane p is > 0",
      "_FUNC_(q, array(array(1L,-1L), array(2L,3L)))", buildSrpSignature),
    GraftFunction(PyCheckName,
      "reference-parity exception text for a mongod log line, NULL if none",
      "_FUNC_(line)", unary(PyCheckName)(PyParity.PyParityCheck)),
    GraftFunction(PyErrorBranchName,
      "whether the reference would route this mongod line to parse_errors",
      "_FUNC_(line)", unary(PyErrorBranchName)(PyParity.PyErrorBranchCheck)),
    GraftFunction(OpaqueName,
      "optimizer-opaque identity: value-equal to its argument, blocks " +
        "predicate pushdown / project collapse through it",
      "_FUNC_(expensive_expr)", unary(OpaqueName)(OpaqueBarrier)),
    GraftFunction(MongoJson.MongoLineParseName,
      "mongod structured-log line parsed to the MongodLine struct in " +
        "ONE Jackson streaming pass — observably identical to " +
        "from_json(line, MongodLine, PERMISSIVE + _corrupt)",
      "_FUNC_(line)",
      unary(MongoJson.MongoLineParseName)(MongoJson.MongoLineParse)),
    GraftFunction(MySqlFieldsName,
      "all seven MySQL slow-log field captures in ONE compiled pass; " +
        "array<string> of the 7 nullable captures in battery order plus " +
        "the normalized query — value-identical to rlike + " +
        "regexp_extract per pattern",
      "_FUNC_(entry)", unary(MySqlFieldsName)(MySqlEntryFields)),
    GraftFunction(LangSignalName,
      "per-word-set ASCII \\b match counts + Han-char count in ONE " +
        "text scan; array<bigint> of size(sets)+1",
      "_FUNC_(text, array(array('the','and'), array('el','la')))",
      buildLangSignal),
    GraftFunction(TextStatName,
      "ws-token, BPE-token, punct, upper and stopword-hit counts in " +
        "ONE text scan; array<bigint> of 5",
      "_FUNC_(text, array('the','and'))", buildTextStat),
    GraftFunction(WinnowName,
      "Karp-Rabin rolling-hash winnowing fingerprint: min and distinct " +
        "count of every w-code-point window hash in ONE scan; " +
        "struct<fingerprint_h: bigint, n_distinct_windows: int>",
      "_FUNC_(text, 16)", buildWinnow),
    GraftFunction(Md5PrefixName,
      "first N hex digits of md5 as BIGINT — value-identical to " +
        "conv(substring(md5(s), 1, N), 16, 10), allocation-free",
      "_FUNC_(text, 15)", buildMd5Prefix),
    GraftFunction(WordRepName,
      "single-pass Gopher-repetition counters over a token array: " +
        "[n_words, n_distinct_words, top_word_cnt, n2, d2, n3, d3]; " +
        "empty/null tokens skipped, distinct counts exact (dense ids)",
      "_FUNC_(split(lower(text), '\\\\s+'))",
      unary(WordRepName)(WordRepCounts)),
    GraftFunction(ShingleHashName,
      "positional n-token shingle md5-prefix hashes of lower(text) in " +
        "ONE scan, array<bigint>; empty when the doc has < n tokens — " +
        "value-identical to the tokens/element_at/concat_ws/" +
        "md5_prefix_long chain, shingle strings never materialized",
      "_FUNC_(text, 3, 15)", buildShingleHashes),
    GraftFunction(ShingleHashSetName,
      "distinct n-token shingle md5-prefix hashes of lower(text), sorted " +
        "ascending, array<bigint> — array_sort(array_distinct(" +
        "shingle_hashes(text, n, hexChars))) in ONE scan",
      "_FUNC_(text, 3, 15)", buildShingleHashSet),
    GraftFunction(SimhashSigName,
      "per-document band-packed SimHash signature over md5 token " +
        "hashes in ONE scan, array<bigint> of `bands`; NULL for " +
        "zero-token docs — value-identical to the explode + two " +
        "md5 slices + wide vote aggregate it replaces",
      "_FUNC_(text, 4, 15)", buildSimhashSig))

  /** Idempotently register [[Functions]] on a session built without
    * [[graft.GraftExtensions]] (a no-op on one built with it). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, f.info, f.builder)
    }
  }

  /** Exact dot product (see [[qdotRun]]); caller must have
    * ensureRegistered. */
  def qdotNative(a: Column, b: Column): Column = call_function(QdotName, a, b)

  /** Full SRP signature (see [[srpRun]]); `coefs` becomes
    * a foldable nested-array literal folded at resolution. Caller must
    * have ensureRegistered.
    */
  def srpSignature(q: Column, coefs: Seq[Seq[Long]]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    call_function(SrpSignatureName, q,
      array(coefs.map(row => array(row.map(lit): _*)): _*))
  }

  /** Fused word-set + Han-char counter (see [[langSignalRun]]); the
    * set matrix becomes a foldable nested-array literal. Caller must
    * have ensureRegistered.
    */
  def langSignalCounts(text: Column, sets: Seq[Seq[String]]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    call_function(LangSignalName, text,
      array(sets.map(row => array(row.map(lit): _*)): _*))
  }

  /** Fused text-statistics counter (see [[textStatRun]]); the word
    * set becomes a foldable array literal. Caller must have
    * ensureRegistered.
    */
  def textStatCounts(text: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    call_function(TextStatName, text, array(words.map(lit): _*))
  }

  /** Single-pass repetition counters over a token array (see
    * [[wordRepRun]]); caller must have ensureRegistered.
    */
  def wordRepCounts(tokens: Column): Column =
    call_function(WordRepName, tokens)

  /** Positional n-token shingle md5-prefix hashes (see [[shingleHashRun]]);
    * caller must have ensureRegistered. */
  def shingleHashes(text: Column, n: Int, hexChars: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(ShingleHashName, text, lit(n), lit(hexChars))
  }

  /** Distinct sorted shingle hashes per document (see [[shingleHashSetRun]]);
    * caller must have ensureRegistered. */
  def shingleHashSet(text: Column, n: Int, hexChars: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(ShingleHashSetName, text, lit(n), lit(hexChars))
  }

  /** Per-document SimHash signature (see [[simhashSigRun]]); caller must
    * have ensureRegistered. */
  def simhashSig(text: Column, bands: Int, bitsPerBand: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(SimhashSigName, text, lit(bands), lit(bitsPerBand))
  }

  /** Karp-Rabin winnowing fingerprint (see [[winnowRun]]); caller
    * must have ensureRegistered.
    */
  def winnowKarpRabin(text: Column, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(WinnowName, text, lit(w))
  }

  /** Allocation-free md5 hex-prefix long (see [[md5PrefixRun]]); caller
    * must have ensureRegistered (every engine session does — the
    * extension installs it, ensureRegistered is the embedded fallback).
    */
  def md5PrefixLong(text: Column, hexChars: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(Md5PrefixName, text, lit(hexChars))
  }

  /** Optimizer-opaque identity (see [[OpaqueBarrier]]); caller must have
    * ensureRegistered.
    */
  def opaque(c: Column): Column = call_function(OpaqueName, c)

  /** Python-parity exception text for a mongod log line (see [[PyParity]]);
    * caller must have ensureRegistered.
    */
  def pyParityCheck(line: Column): Column = call_function(PyCheckName, line)

  /** Reference error-branch membership; caller must have ensureRegistered. */
  def pyErrorBranch(line: Column): Column = call_function(PyErrorBranchName, line)

  /** All seven MySQL slow-log captures in one compiled pass (see
    * [[mysqlFieldsRun]]); caller must have ensureRegistered.
    */
  def mysqlEntryFields(entry: Column): Column =
    call_function(MySqlFieldsName, entry)
}
