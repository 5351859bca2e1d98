package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, JsonTuple}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `json_tuple` with a byte-scan fast path for flat records of string
  * fields, the wire shape of both reference jobs
  * (`{"readTag_id":"…","readValue":"…"}`).
  *
  * Spark's `json_tuple` builds and closes a Jackson parser for every
  * record, over an `InputStreamReader`; in the benchmark's `stream_jobs`
  * workload that set-up, not the tokenizing, was most of the parse. This
  * generator reads a record in one pass over its UTF-8 bytes when all of
  * these hold:
  *
  *  - the record is one JSON object: optional JSON whitespace (space,
  *    tab, LF, CR), `{`, `"key":"value"` pairs separated by `,`, `}`, then
  *    only whitespace to the end;
  *  - every key and every value is a double-quoted string of printable
  *    ASCII (0x20–0x7E) with no `\` or `"` inside;
  *  - no requested field appears twice;
  *  - the record is at most [[FlatJsonTuple.MaxBytes]] bytes.
  *
  * A requested field that is absent reads as null, as in `json_tuple`;
  * other keys are skipped. Every other record (escapes, non-ASCII bytes,
  * non-string values, duplicates, truncation, trailing content, arrays,
  * scalars, null input, oversized records), and every record when a field
  * name is not a constant, goes to a `json_tuple` over the same children,
  * held here as a field and not as a child: it reads exactly as before.
  * Such a record's JSON expression is evaluated a second time, by the
  * fallback.
  *
  * Output schema, nullability and the one row per input are
  * `json_tuple`'s. It stays a `Generate`, so filter pushdown cannot copy
  * the parse into a predicate (`Sources.parseReadings`). No codegen:
  * `GenerateExec` calls [[eval]] per row.
  */
case class FlatJsonTuple(children: Seq[Expression]) extends Generator with CodegenFallback {

  @transient private lazy val fallback: JsonTuple = JsonTuple(children)

  /** The requested field names as UTF-8 bytes (null for a null name), or
    * null when any name is not a constant.
    */
  @transient private lazy val names: Array[Array[Byte]] =
    if (!children.tail.forall(_.foldable)) null
    else children.tail.map(e => Option(e.eval()).map(_.asInstanceOf[UTF8String].getBytes).orNull)
      .toArray

  override def elementSchema: StructType = fallback.elementSchema
  override def nullable: Boolean = false
  override def supportCodegen: Boolean = false
  override def prettyName: String = "flat_json_tuple"
  override def checkInputDataTypes(): TypeCheckResult = fallback.checkInputDataTypes()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val json = children.head.eval(input).asInstanceOf[UTF8String]
    val row = if (json == null || names == null) null else FlatJsonTuple.scan(json, names)
    if (row == null) fallback.eval(input) else row :: Nil
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FlatJsonTuple = copy(children = newChildren)
}

object FlatJsonTuple {
  /** Longest record the fast path reads. Below Jackson's default limit
    * on a key (50,000 chars), over which `json_tuple` reads the record
    * as all nulls.
    */
  val MaxBytes: Int = 32 * 1024

  /** The fields `names` of a record in the fast-path grammar, or null
    * when the record is outside it.
    */
  private[graft] def scan(json: UTF8String, names: Array[Array[Byte]]): InternalRow = {
    val n = json.numBytes
    if (n > MaxBytes) return null
    val base = json.getBaseObject
    val off = json.getBaseOffset
    def at(i: Int): Int = Platform.getByte(base, off + i)
    def skipWs(from: Int): Int = {
      var i = from
      while (i < n && { val b = at(i); b == ' ' || b == '\n' || b == '\r' || b == '\t' }) i += 1
      i
    }
    // index of the quote closing a string whose first byte is at `from`,
    // or -1 when the string has a byte outside printable ASCII or a `\`
    def stringEnd(from: Int): Int = {
      var i = from
      while (i < n) {
        val b = at(i)
        if (b == '"') return i
        if (b < 0x20 || b > 0x7e || b == '\\') return -1
        i += 1
      }
      -1
    }
    def keyIs(from: Int, until: Int, name: Array[Byte]): Boolean =
      name != null && name.length == until - from && {
        var k = 0
        while (k < name.length && name(k) == at(from + k)) k += 1
        k == name.length
      }

    val values = new Array[Any](names.length)
    var i = skipWs(0)
    if (i >= n || at(i) != '{') return null
    i = skipWs(i + 1)
    var open = !(i < n && at(i) == '}')
    if (!open) i += 1
    while (open) {
      if (i >= n || at(i) != '"') return null
      val keyEnd = stringEnd(i + 1)
      if (keyEnd < 0) return null
      val keyStart = i + 1
      i = skipWs(keyEnd + 1)
      if (i >= n || at(i) != ':') return null
      i = skipWs(i + 1)
      if (i >= n || at(i) != '"') return null
      val valueEnd = stringEnd(i + 1)
      if (valueEnd < 0) return null
      val valueStart = i + 1
      var f = 0
      while (f < names.length) {
        if (keyIs(keyStart, keyEnd, names(f))) {
          if (values(f) != null) return null
          val bytes = new Array[Byte](valueEnd - valueStart)
          Platform.copyMemory(base, off + valueStart, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
          values(f) = UTF8String.fromBytes(bytes)
        }
        f += 1
      }
      i = skipWs(valueEnd + 1)
      if (i >= n) return null
      if (at(i) == ',') i = skipWs(i + 1)
      else if (at(i) == '}') { i += 1; open = false }
      else return null
    }
    if (skipWs(i) != n) return null
    new GenericInternalRow(values)
  }
}
