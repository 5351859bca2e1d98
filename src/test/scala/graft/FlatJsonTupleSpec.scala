package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FlatJsonTuple

/** `FlatJsonTuple` returns the rows of Spark's `json_tuple`, for the
  * field lists of both stream parsers, on adversarial records, on every
  * byte-prefix truncation of canonical records and on records drawn from
  * a small JSON grammar with byte mutations; each set is run one record
  * per frame and all at once, as a binary (Kafka-shaped) column. The
  * fast path itself is pinned on the shapes it must and must not take.
  */
class FlatJsonTupleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private val fieldLists = Seq(Seq("readTag_id", "readValue"), Seq("readTag_id"))

  private def flat(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(ColumnBridge.column(FlatJsonTuple(
      (col("value").cast(StringType) +: fields.map(lit)).map(ColumnBridge.expression))))

  private def jsonTuple(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(json_tuple(col("value").cast(StringType), fields: _*))

  // fields compared as bytes: decoding to a Java String would map an
  // invalid UTF-8 byte and its U+FFFD replacement to the same text; and a
  // null field must not look like the string "null"
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.map(c => hex(col(c).cast(BinaryType))): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else s"[$v]").mkString("|")).toSeq.sorted

  private def frame(records: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    records.toDF("value")
  }

  private def show(r: Array[Byte]): String =
    if (r == null) "null"
    else if (r.length > 120) s"${r.length} bytes: ${new String(r.take(60), UTF_8)}…"
    else r.map(b => if (b >= 0x20 && b < 0x7f) b.toChar.toString else f"\\x$b%02x").mkString

  private def assertSameRows(set: String, records: Seq[Array[Byte]]): Unit =
    for (fields <- fieldLists) {
      for (r <- records) {
        val in = frame(Seq(r))
        assert(rows(flat(in, fields)) == rows(jsonTuple(in, fields)),
          s"$set, fields $fields, record ${show(r)}")
      }
      val all = frame(records)
      assert(rows(flat(all, fields)) == rows(jsonTuple(all, fields)),
        s"$set, fields $fields, all ${records.size} records in one frame")
    }

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def withBytes(prefix: String, raw: Array[Byte], suffix: String): Array[Byte] =
    bytes(prefix) ++ raw ++ bytes(suffix)

  private val canonical = Seq(
    """{"readTag_id":"b01 t00001","readValue":"20.125"}""",
    """{"readTag_id":"b96 t09999","readValue":"-3.000"}""",
    """{"readValue":"7","readTag_id":"b00 t00000"}""")

  private val adversarial: Seq[Array[Byte]] =
    ReadingParseSpec.sameAsBefore.map(bytes) ++ Seq(
      bytes("{\"readTag" + "\\" + "u005fid\":\"esc\",\"readValue\":\"1\"}"), // Jackson decodes the key
      withBytes("""{"readTag_id":"b""", Array(0xc3.toByte), """ t1","readValue":"1"}"""),
      withBytes("""{"readTag_id":"b""", Array(0xff.toByte), """ t1","readValue":"1"}"""),
      withBytes("", Array(0xef, 0xbb, 0xbf).map(_.toByte), canonical.head), // BOM
      bytes("{\t\"readTag_id\"\r:\t\"tab\"\r\n,\n\"readValue\" : \"2\"\t}\r\n"),
      withBytes("""{"readTag_id":"del""", Array(0x7f.toByte), """","readValue":"1"}"""),
      bytes("{}"),
      bytes(" { } "),
      bytes("""{"readValue":"3","readTag_id":"swapped"}"""),
      bytes("""{"readTag_id":"x1","site":"north","readValue":"4"}"""), // extra string key
      bytes("""{"readTag_id":"x2","n":5,"readValue":"4"}"""), // extra numeric key
      bytes("""{"site":"a","readTag_id":"dk","site":"b","readValue":"5"}"""),
      bytes(s"""{"readTag_id":"${"t" * 100000}","readValue":"6"}"""), // 100 kB tag
      bytes(s"""{"readTag_id":"${"t" * 30000}","readValue":"6"}"""), // under the cap
      // a key over Jackson's 50,000-char limit nulls the record
      bytes(s"""{"${"k" * 60000}":"long key","readTag_id":"lk","readValue":"6"}"""),
      bytes("""{"readTag_id":"ev","readValue":""}"""), // empty value
      bytes("""{"readTag_id":"tc","readValue":"1",}"""), // trailing comma
      bytes("""{"readTag_id" "nc","readValue":"1"}"""), // no colon
      bytes("""{"readTag_id":"x"}}"""),
      bytes("""{,}"""),
      bytes("""{"readTag_id":"unterminated}"""),
      bytes("{\"readTag_id\":\"lf\nin\",\"readValue\":\"1\"}"), // raw LF in a string
      null)

  private val truncations: Seq[Array[Byte]] =
    canonical.map(bytes).flatMap(r => (0 to r.length).map(r.take))

  /** Objects of string keys and mostly string values, a few of them
    * escaped, non-ASCII or not strings, then at times cut, overwritten,
    * grown or shrunk by a byte.
    */
  private val mutated: Seq[Array[Byte]] = {
    val char = Gen.frequency(
      20 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '.', '-', ':', ',', '{', '}', '[', '\''),
      1 -> Gen.oneOf('\\', '"', '\t', 'é', '\u007f'))
    val plain = Gen.chooseNum(0, 8).flatMap(Gen.stringOfN(_, char))
    val str = Gen.frequency(10 -> plain, 1 -> Gen.oneOf("\\\"", "\\u0041", "\\\\"))
      .map(s => "\"" + s + "\"")
    val key = Gen.frequency(4 -> Gen.oneOf("\"readTag_id\"", "\"readValue\""), 1 -> str)
    val value = Gen.frequency(12 -> str,
      1 -> Gen.oneOf("12.5", "-1", "1e3", "true", "false", "null", "{\"a\":\"b\"}", "[\"1\"]", "{}"))
    val ws = Gen.frequency(12 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\t", "\r\n", "\n"))
    val pair = for (w1 <- ws; k <- key; w2 <- ws; v <- value; w3 <- ws) yield s"$w1$k:$w2$v$w3"
    val obj = for {
      n <- Gen.chooseNum(0, 4)
      ps <- Gen.listOfN(n, pair)
      lead <- ws
      tail <- Gen.frequency(10 -> ws, 1 -> Gen.oneOf("x", "{}", ","))
    } yield bytes(lead + ps.mkString("{", ",", "}") + tail)
    def mutate(r: Array[Byte]): Gen[Array[Byte]] =
      if (r.isEmpty) Gen.const(r)
      else for {
        at <- Gen.chooseNum(0, r.length - 1)
        b <- Gen.chooseNum(-128, 127).map(_.toByte)
        m <- Gen.frequency(
          6 -> Gen.const(r),
          1 -> Gen.const(r.take(at)),
          1 -> Gen.const(r.updated(at, b)),
          1 -> Gen.const(r.patch(at, Seq(b), 0)),
          1 -> Gen.const(r.patch(at, Nil, 1)))
      } yield m
    Gen.listOfN(300, obj.flatMap(mutate)).pureApply(Gen.Parameters.default, Seed(20261019L))
  }

  test("same rows as json_tuple on adversarial records") {
    assertSameRows("adversarial", adversarial)
  }

  test("same rows as json_tuple on every byte-prefix truncation of canonical records") {
    assertSameRows("truncations", truncations)
  }

  test("same rows as json_tuple on grammar-drawn, byte-mutated records") {
    assertSameRows("mutated", mutated)
    // the set reaches both paths
    val names = Array(bytes("readTag_id"), bytes("readValue"))
    val fast = mutated.count(r => FlatJsonTuple.scan(UTF8String.fromBytes(r), names) != null)
    assert(fast > mutated.size / 5 && fast < mutated.size * 4 / 5, s"$fast of ${mutated.size}")
  }

  test("field names from a column read as in json_tuple") {
    import spark.implicits._
    val in = Seq(
      (canonical.head, "readTag_id"), (canonical.head, "readValue"), (canonical(2), null),
      ("""{"readTag_id":"b\"q","readValue":"1"}""", "readTag_id")).toDF("value", "f")
    val flatRows = in.select(ColumnBridge.column(FlatJsonTuple(
      Seq(col("value"), col("f")).map(ColumnBridge.expression))))
    assert(rows(flatRows) == rows(in.selectExpr("json_tuple(value, f)")))
    assert(rows(flatRows).count(_ != "∅") == 3)
  }

  test("the fast path reads the flat wire shape and leaves the rest to json_tuple") {
    val names = Array(bytes("readTag_id"), bytes("readValue"))
    def scan(r: Array[Byte]): Option[Seq[String]] =
      Option(FlatJsonTuple.scan(UTF8String.fromBytes(r), names))
        .map(row => (0 until 2).map(i => Option(row.getUTF8String(i)).map(_.toString).orNull))
    assert(scan(bytes(canonical.head)) == Some(Seq("b01 t00001", "20.125")))
    assert(scan(bytes(canonical(2))) == Some(Seq("b00 t00000", "7")))
    assert(scan(bytes("""{"readValue":"3.5"}""")) == Some(Seq(null, "3.5")))
    assert(scan(bytes(" {\t}\r\n")) == Some(Seq(null, null)))
    assert(scan(bytes("""{"site":"a","readTag_id":"t","site":"b"}""")) == Some(Seq("t", null)))
    for (r <- Seq(
        """{"readTag_id":"b\"q","readValue":"1"}""", // escape
        "{\"readTag_id\":\"bâ\",\"readValue\":\"1\"}", // non-ASCII
        """{"readTag_id":"t","readValue":1}""", // number
        """{"readTag_id":"a","readTag_id":"b"}""", // requested field twice
        """{"readTag_id":"t","readValue":"1"} x""", // trailing content
        """{"readTag_id":"t","readV""", // truncated
        """[{"readTag_id":"t"}]""",
        s"""{"readTag_id":"${"t" * FlatJsonTuple.MaxBytes}"}"""))
      assert(scan(bytes(r)).isEmpty, r.take(80))
  }
}
