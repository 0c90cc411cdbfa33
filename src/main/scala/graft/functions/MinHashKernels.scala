package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a token array: null and empty tokens are
  * dropped, then every run of `n` consecutive tokens is joined by one
  * space, in order. With `distinct`, a shingle is kept at its first
  * occurrence only (`array_distinct`'s order). Fewer than `n` tokens, or a
  * null array, give an empty array.
  *
  * The input is the raw `split(lower(text), " ")`, so case mapping and
  * splitting stay Spark's builtins. A native expression because the
  * `transform`/`filter` spelling is `CodegenFallback` in Spark 4.1: each
  * token and shingle would run through the interpreter.
  */
case class Shingles(child: Expression, n: Int, distinct: Boolean) extends UnaryExpression {
  require(n >= 1, s"shingle width must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    Shingles.build(child.eval(input).asInstanceOf[ArrayData], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Shingles.build(${c.isNull} ? null : ${c.value}, $n, $distinct);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
  override def prettyName: String = "shingles"
}

object Shingles {
  private final class Scratch {
    var toks = new Array[UTF8String](64)
    val seen = new java.util.HashSet[UTF8String]()
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)
  private val Space = ' '.toByte

  def build(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    if (tokens == null) return new GenericArrayData(Array.empty[Any])
    val st = scratch.get()
    st.seen.clear()
    val len = tokens.numElements()
    if (st.toks.length < len) st.toks = new Array[UTF8String](len)
    val toks = st.toks
    var m = 0
    var i = 0
    while (i < len) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) { toks(m) = t; m += 1 }
      }
      i += 1
    }
    val out = join(toks, m, n, distinct, st.seen)
    // the tokens point into the input row: hold no reference past this call
    java.util.Arrays.fill(toks.asInstanceOf[Array[AnyRef]], 0, m, null)
    new GenericArrayData(out)
  }

  /** The shingles of `toks(0 until m)`, all non-empty. */
  private def join(toks: Array[UTF8String], m: Int, n: Int, distinct: Boolean,
                   seen: java.util.HashSet[UTF8String]): Array[Any] = {
    val count = m - n + 1
    if (count < 1) return Array.empty[Any]
    val out = new Array[Any](count)
    var kept = 0
    var window = 0 // byte length of toks(j until j + n), spaces excluded
    var i = 0
    while (i < n) { window += toks(i).numBytes(); i += 1 }
    var j = 0
    while (j < count) {
      if (j > 0) window += toks(j + n - 1).numBytes() - toks(j - 1).numBytes()
      val bytes = new Array[Byte](window + n - 1)
      var pos = 0
      i = j
      while (i < j + n) {
        if (i > j) { bytes(pos) = Space; pos += 1 }
        toks(i).writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += toks(i).numBytes()
        i += 1
      }
      val s = UTF8String.fromBytes(bytes)
      if (!distinct || seen.add(s)) { out(kept) = s; kept += 1 }
      j += 1
    }
    if (kept == count) out else out.take(kept)
  }

  /** Column API: shingles of an `array<string>` token column. */
  def shingles(tokens: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(tokens), n, distinct))
}

/** MinHash signature of a shingle array: element `i` (of `numHashes`) is
  * the least, as unsigned bytes, of the 32 lowercase-hex ASCII bytes of
  * `md5("i:" + shingle)` over the array's non-null shingles. Bit-identical
  * to `min(md5(concat(lit("i:"), shingle)).cast("binary"))` over the
  * exploded shingles. Null when the array is null or holds no non-null
  * shingle (the `min` over no rows).
  *
  * Hex preserves the unsigned byte order of the digest, so the minimum is
  * kept as 16 raw bytes and only the winners are hex-encoded. The digest
  * and buffers are reused per thread: nothing is allocated per
  * (hash, shingle) pair.
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be positive, got $numHashes")
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    MinHashSignature.sign(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSignature.sign($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  private final class Scratch {
    val md5: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var prefixes = new Array[Array[Byte]](0)
    var mins = new Array[Byte](0)
    var bytes = new Array[Byte](256)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  def sign(shingles: ArrayData, numHashes: Int): ArrayData = {
    val st = scratch.get()
    if (st.prefixes.length < numHashes) {
      st.prefixes = Array.tabulate(numHashes)(i => s"$i:".getBytes("UTF-8"))
      st.mins = new Array[Byte](16 * numHashes)
    }
    val md5 = st.md5
    val digest = st.digest
    val mins = st.mins
    var found = false
    var k = 0
    while (k < shingles.numElements()) {
      if (!shingles.isNullAt(k)) {
        val s = shingles.getUTF8String(k)
        val nb = s.numBytes()
        if (st.bytes.length < nb) st.bytes = new Array[Byte](math.max(nb, 2 * st.bytes.length))
        s.writeToMemory(st.bytes, Platform.BYTE_ARRAY_OFFSET)
        var i = 0
        while (i < numHashes) {
          md5.update(st.prefixes(i))
          md5.update(st.bytes, 0, nb)
          md5.digest(digest, 0, 16)
          if (!found || below(digest, mins, 16 * i))
            System.arraycopy(digest, 0, mins, 16 * i, 16)
          i += 1
        }
        found = true
      }
      k += 1
    }
    if (!found) return null
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) {
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        val v = mins(16 * i + b) & 0xff
        hex(2 * b) = Hex(v >>> 4)
        hex(2 * b + 1) = Hex(v & 0xf)
        b += 1
      }
      out(i) = hex
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `d` < `mins(at until at + 16)`, as unsigned bytes. */
  private def below(d: Array[Byte], mins: Array[Byte], at: Int): Boolean = {
    var b = 0
    while (b < 16) {
      val x = d(b) & 0xff
      val y = mins(at + b) & 0xff
      if (x != y) return x < y
      b += 1
    }
    false
  }

  /** Column API: the signature of an `array<string>` shingle column. */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))
}
