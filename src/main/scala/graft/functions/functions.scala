package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.SqlShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.Magic

/** Column functions backed by native Catalyst expressions (SURVEY.md §4's
  * optional upgrade over UDFs: no ScalaUDF serialization/null-wrapping on
  * the hot path; doGenCode emits a direct static call that whole-stage
  * codegen inlines into the generated consume loop).
  */
package object functions {

  /** MIME type of a binary payload by magic-byte sniffing (D1). */
  def sniff_mime(c: Column): Column = SqlShim.column(SniffMime(SqlShim.expression(c)))

  /** Detected charset name of a binary payload (D2). */
  def detect_charset(c: Column): Column = SqlShim.column(DetectCharset(SqlShim.expression(c)))

  /** ISO 639-1 language of a text column (D3); "und" when undetermined. */
  def lang_of(c: Column): Column = SqlShim.column(LangOf(SqlShim.expression(c)))

  /** Double-precision dot product of two float/double array columns —
    * allocation-free loop over ArrayData (vs aggregate(zip_with(..)) which
    * materializes an intermediate array per row pair).
    */
  def dot_f64(a: Column, b: Column): Column =
    SqlShim.column(DotF64(SqlShim.expression(a), SqlShim.expression(b)))

  /** n-word shingles of a text column: tokenizes once and emits
    * concat_ws(" ", slice(toks, j, n)) for j = 1..max(len-n+1, 1) — the
    * exact rows of transform(sequence(1, greatest(size(toks)-(n-1), 1)),
    * j => concat_ws(" ", slice(split(lower(text), " "), j, n))), but O(len)
    * instead of O(len * shingles): the HOF form is interpreted
    * (CodegenFallback) and re-evaluates split(lower(text)) once per
    * OUTPUT shingle. Tokenization/lowering go through the same
    * UTF8String calls Catalyst's Lower/StringSplit/ConcatWs use, so the
    * produced strings are bit-identical (property-tested vs the HOF form).
    */
  def shingles(text: Column, n: Int): Column =
    SqlShim.column(ShinglesExpr(SqlShim.expression(text), n))

  /** array_distinct(shingles(text, n)) in one pass: insertion-ordered
    * hash-set dedup (O(k)) instead of ArrayDistinct's pairwise scan —
    * same first-occurrence order and binary equality.
    */
  def shingles_distinct(text: Column, n: Int): Column =
    SqlShim.column(ShinglesExpr(SqlShim.expression(text), n, distinct = true))

  /** MinHash signature of a text over its 3-word shingles, in ONE
    * expression: lane i = min over shingles sh of
    * (HashA(i) * h + HashB(i)) % P with h = h64(sh) % P (Dedup's
    * constants, NumHashes lanes). Same shingles, same h64 and the same
    * non-overflowing arithmetic as the per-doc explode + pmod + min
    * aggregation it replaces, so every lane is bit-identical (property-
    * tested) without exploding one row per shingle or shuffling them.
    */
  def minhash_sig(text: Column): Column =
    SqlShim.column(MinHashSig(SqlShim.expression(text)))

  /** struct(na, nb, inter): the distinct n-word shingle counts of two
    * texts and the size of their intersection — the three counts an
    * exact Jaccard needs, from one in-row hash-set probe instead of
    * exploding both shingle sets and joining them. Sets are those of
    * [[shingles_distinct]] (binary UTF8String equality).
    */
  def shingle_overlap(a: Column, b: Column, n: Int): Column =
    SqlShim.column(ShingleOverlap(SqlShim.expression(a), SqlShim.expression(b), n))

  /** All `nTables` LSH signatures of a vector in ONE expression: sig[t] =
    * OR over bits b of (dot(v, hyperplane(t,b)) >= 0) << b, with the dot
    * folded left exactly like [[dot_f64]] — bit-identical to the column-
    * per-table form (when(dot_f64(v, typedlit(signRow)) >= 0, 1L << b)
    * summed), which built a ~16k-node expression tree (nTables x nBits
    * dot products against 64-element literals) that dominated planning
    * and codegen for the LSH operators.
    */
  def lsh_sigs(vec: Column, nTables: Int, nBits: Int, dims: Int, seed: Long): Column =
    SqlShim.column(LshSigs(SqlShim.expression(vec), nTables, nBits, dims, seed))

  /** bigint of the first 15 hex chars of md5(utf8 bytes) — the shared
    * oracle hash primitive, as ONE expression. The composed form
    * conv(substring(md5(cast(s as binary)), 1, 15), 16, 10).cast(long)
    * allocates a 32-char hex string, re-parses 15 chars of it in base
    * 16, renders a DECIMAL STRING and parses that to long — per row —
    * and Spark's Md5 calls MessageDigest.getInstance per ROW (a
    * synchronized provider lookup, the r4 PDF-crypt lesson). This one
    * digests into a thread-local MD5 and reads the value straight out
    * of the first 8 digest bytes (big-endian >>> 4 == first 15 nibbles).
    */
  def h64(c: Column): Column = SqlShim.column(H64(SqlShim.expression(c)))

  /** Lowercase via UTF8String.toLowerCase. Spark 4's Lower expression
    * routes through CollationSupport/ICU whose one-time case-table
    * initialization (~1.5 s) serializes EVERY task of the first stage
    * that evaluates lower() (thread-dump verified: 32 tasks parked in
    * CollationSupport$Lower.execBinaryICU). Output equality with lower()
    * is pinned by the shingles property test and the full-corpus oracle
    * runs (same equivalence class as ShinglesExpr's tokenizer).
    */
  def lower_u8(c: Column): Column = SqlShim.column(LowerU8(SqlShim.expression(c)))

  /** TextOps.quality's five raw counters in ONE tokenizing pass:
    * struct(n_chars, n_tokens, punct, stops, len_sum). The column form
    * ran 13 interpreted HOF scans per row (punct filter, 10 stopword
    * filters, aggregate, size), each re-evaluating split(lower(text)).
    * Ratios/rounding stay OUTSIDE in Catalyst expressions, so the
    * final values are bit-identical (pinned by a property test).
    */
  def text_stats(c: Column): Column = SqlShim.column(TextStats(SqlShim.expression(c)))
}

package functions {

  /** Static entry points for generated code (codegen calls must be
    * static-resolvable; an object's MODULE$ works but a plain Java-style
    * static forwarder via object methods keeps the emitted source simple).
    */
  object Kernels {
    def sniffMime(bytes: Array[Byte]): UTF8String =
      UTF8String.fromString(Magic.refinedContentType(bytes))
    def detectCharset(bytes: Array[Byte]): UTF8String =
      UTF8String.fromString(graft.kernel.Charset.detect(bytes).name)
    def langOf(s: UTF8String): UTF8String =
      UTF8String.fromString(graft.kernel.Lang.detect(if (s == null) null else s.toString))
    private val SpaceU = UTF8String.fromString(" ")

    /** n-word shingle array of `text` (null text behaves like the HOF
      * form: lower/split/slice propagate null into concat_ws, which
      * skips it and yields one "" shingle).
      */
    def shingles(text: UTF8String, n: Int,
        distinct: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
      val out = if (distinct) shingleSet(text, n).toArray else shingleArray(text, n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.asInstanceOf[Array[Any]])
    }

    private def shingleArray(text: UTF8String, n: Int): Array[UTF8String] = {
      if (text == null) return Array(UTF8String.EMPTY_UTF8)
      val toks = text.toLowerCase.split(SpaceU, -1)
      val out = new Array[UTF8String](math.max(toks.length - (n - 1), 1))
      var j = 0
      while (j < out.length) {
        val end = math.min(j + n, toks.length)
        out(j) = UTF8String.concatWs(SpaceU,
          java.util.Arrays.copyOfRange(toks, j, end): _*)
        j += 1
      }
      out
    }

    // first-occurrence order (shingles_distinct's array order)
    private def shingleSet(text: UTF8String, n: Int): java.util.LinkedHashSet[UTF8String] = {
      val sh = shingleArray(text, n)
      val set = new java.util.LinkedHashSet[UTF8String](sh.length * 2)
      var j = 0
      while (j < sh.length) { set.add(sh(j)); j += 1 }
      set
    }

    private val MinHashA = graft.operators.Dedup.HashA.toArray
    private val MinHashB = graft.operators.Dedup.HashB.toArray
    private val MinHashP = graft.operators.Dedup.P

    /** MinHash lanes of `text`'s 3-shingles (see functions.minhash_sig).
      * h64 >= 0 and a, b, h < P < 2^31, so `%` equals Catalyst's pmod
      * and a * h + b never overflows.
      */
    def minhashSig(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
      val mins = Array.fill(MinHashA.length)(Long.MaxValue)
      val sh = shingleArray(text, graft.operators.Dedup.Shingle)
      var j = 0
      while (j < sh.length) {
        val h = h64(sh(j)) % MinHashP
        var i = 0
        while (i < mins.length) {
          val v = (MinHashA(i) * h + MinHashB(i)) % MinHashP
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
    }

    /** (|A|, |B|, |A ∩ B|) over the distinct n-shingle sets of a and b. */
    def shingleOverlap(a: UTF8String, b: UTF8String,
        n: Int): org.apache.spark.sql.catalyst.InternalRow = {
      val sa = shingleSet(a, n)
      val sb = shingleSet(b, n)
      val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
      var inter = 0
      val it = small.iterator()
      while (it.hasNext) if (large.contains(it.next())) inter += 1
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](sa.size, sb.size, inter))
    }

    // sign tables for lshSigs, built once per (seed, nTables, nBits, dims)
    // per JVM from the same Ann.hyperSign values the DuckDB oracle renders
    private val signTables =
      new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Double]]

    def lshSigs(v: org.apache.spark.sql.catalyst.util.ArrayData, vFloat: Boolean,
        nTables: Int, nBits: Int, dims: Int, seed: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
      val signs = signTables.computeIfAbsent((seed, nTables, nBits, dims), _ => {
        val a = new Array[Double](nTables * nBits * dims)
        var i = 0
        var t = 0
        while (t < nTables) {
          var b = 0
          while (b < nBits) {
            var d = 0
            while (d < dims) {
              a(i) = graft.operators.Ann.hyperSign(seed, t, b, d)
              i += 1; d += 1
            }
            b += 1
          }
          t += 1
        }
        a
      })
      val n = math.min(v.numElements(), dims)
      val out = new Array[Long](nTables)
      var t = 0
      var off = 0
      while (t < nTables) {
        var sig = 0L
        var b = 0
        while (b < nBits) {
          // exact dot_f64 fold order: acc += x * y, i ascending
          var acc = 0.0
          var i = 0
          while (i < n) {
            val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
            acc += x * signs(off + i)
            i += 1
          }
          if (acc >= 0) sig |= (1L << b)
          off += dims
          b += 1
        }
        out(t) = sig
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    private val md5Local = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    /** 60-bit bigint = first 15 hex chars of md5(s) parsed base-16
      * (bit-identical to conv(substring(md5(s),1,15),16,10) cast long:
      * 15 nibbles = the top 60 bits of the first 8 digest bytes).
      */
    def h64(s: UTF8String): Long = {
      val md = md5Local.get()
      md.reset()
      val d = md.digest(s.getBytes)
      (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
    }

    // same pattern + matcher.find() semantics as Catalyst RLike
    private val PunctRe = java.util.regex.Pattern.compile("^[.,;:!?]+$")
    private val StopWords: Array[UTF8String] =
      Array("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
        .map(UTF8String.fromString)

    /** (n_chars, n_tokens, punct_hits, stop_hits, token_len_sum) of a
      * text in one pass; identical values to the HOF column chain
      * (size/filter-rlike/filter-eq x10/aggregate over split(lower)).
      */
    def textStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val toks = text.toLowerCase.split(SpaceU, -1)
      var punct = 0
      var stops = 0
      var lenSum = 0.0 // aggregate(toks, 0.0, acc + length(x)) fold order
      var i = 0
      while (i < toks.length) {
        val tk = toks(i)
        if (PunctRe.matcher(tk.toString).find()) punct += 1
        var s = 0
        while (s < StopWords.length) {
          if (tk.equals(StopWords(s))) stops += 1
          s += 1
        }
        lenSum += tk.numChars()
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](text.numChars(), toks.length, punct, stops, lenSum))
    }

    def dotF64(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData,
        aFloat: Boolean, bFloat: Boolean): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }
  }

  case class SniffMime(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      Kernels.sniffMime(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.sniffMime($c)")
    override protected def withNewChildInternal(c: Expression): SniffMime = copy(c)
  }

  case class DetectCharset(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      Kernels.detectCharset(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.detectCharset($c)")
    override protected def withNewChildInternal(c: Expression): DetectCharset = copy(c)
  }

  case class DotF64(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      Kernels.dotF64(x, y, elemIsFloat(left), elemIsFloat(right))
    }
    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.Kernels$$.MODULE$$.dotF64($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)})")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF64 =
      copy(l, r)
  }

  /** See [[functions.shingles]]. Output is never null (a null/empty text
    * yields [""], matching the HOF form it replaces), so nullable=false
    * and eval/doGenCode handle the null child inline.
    */
  case class ShinglesExpr(child: Expression, n: Int,
      distinct: Boolean = false) extends UnaryExpression {
    require(n >= 1, "shingle width must be >= 1")
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      Kernels.shingles(child.eval(input).asInstanceOf[UTF8String], n, distinct)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      val fn = "graft.functions.Kernels$.MODULE$.shingles"
      val arrayData = "org.apache.spark.sql.catalyst.util.ArrayData"
      val resultCode =
        code"""${c.code}
$arrayData ${ev.value} = $fn(${c.isNull} ? null : ${c.value}, $n, $distinct);"""
      ev.copy(code = resultCode, isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): ShinglesExpr =
      copy(child = c)
  }

  /** See [[functions.minhash_sig]]. Never null: a null text has the
    * signature of its one "" shingle, like the explode form.
    */
  case class MinHashSig(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      Kernels.minhashSig(child.eval(input).asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      val fn = "graft.functions.Kernels$.MODULE$.minhashSig"
      val arrayData = "org.apache.spark.sql.catalyst.util.ArrayData"
      ev.copy(code = code"""${c.code}
$arrayData ${ev.value} = $fn(${c.isNull} ? null : ${c.value});""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(c)
  }

  /** See [[functions.shingle_overlap]]. Never null: a null text counts
    * as its one "" shingle, like [[ShinglesExpr]].
    */
  case class ShingleOverlap(left: Expression, right: Expression, n: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    require(n >= 1, "shingle width must be >= 1")
    import org.apache.spark.sql.types._
    override def dataType: DataType = StructType(Seq(
      StructField("na", IntegerType, nullable = false),
      StructField("nb", IntegerType, nullable = false),
      StructField("inter", IntegerType, nullable = false)))
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      Kernels.shingleOverlap(left.eval(input).asInstanceOf[UTF8String],
        right.eval(input).asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val a = left.genCode(ctx)
      val b = right.genCode(ctx)
      val fn = "graft.functions.Kernels$.MODULE$.shingleOverlap"
      val row = "org.apache.spark.sql.catalyst.InternalRow"
      ev.copy(code = code"""${a.code}
${b.code}
$row ${ev.value} = $fn(
  ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value}, $n);""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleOverlap =
      copy(left = l, right = r)
  }

  /** See [[functions.text_stats]]. */
  case class TextStats(child: Expression) extends UnaryExpression {
    import org.apache.spark.sql.types._
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("punct", IntegerType, nullable = false),
      StructField("stops", IntegerType, nullable = false),
      StructField("len_sum", DoubleType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      Kernels.textStats(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.textStats($c)")
    override protected def withNewChildInternal(c: Expression): TextStats = copy(c)
  }

  /** See [[functions.lower_u8]]. */
  case class LowerU8(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      v.asInstanceOf[UTF8String].toLowerCase
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$c.toLowerCase()")
    override protected def withNewChildInternal(c: Expression): LowerU8 = copy(c)
  }

  /** See [[functions.h64]]. */
  case class H64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullSafeEval(v: Any): Any =
      Kernels.h64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.h64($c)")
    override protected def withNewChildInternal(c: Expression): H64 = copy(c)
  }

  /** See [[functions.lsh_sigs]]. */
  case class LshSigs(child: Expression, nTables: Int, nBits: Int,
      dims: Int, seed: Long) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
    private def elemIsFloat: Boolean = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    override def nullSafeEval(v: Any): Any =
      Kernels.lshSigs(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        elemIsFloat, nTables, nBits, dims, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.lshSigs($c, $elemIsFloat, $nTables, $nBits, $dims, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): LshSigs =
      copy(child = c)
  }

  case class LangOf(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      Kernels.langOf(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels$$.MODULE$$.langOf($c)")
    override protected def withNewChildInternal(c: Expression): LangOf = copy(c)
  }
}
