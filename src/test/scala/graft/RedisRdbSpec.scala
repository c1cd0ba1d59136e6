package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.sources.RedisRdb

/** RDB snapshot loader: exact parse of a synthesized snapshot (both zset
  * encodings, int-encoded strings, LZF), then the reference's actual
  * dump.rdb end-to-end into the customer bootstrap shape. */
class RedisRdbSpec extends SparkSpec {

  /** Minimal RDB writer for fixtures (plain lengths only). */
  private def buildRdb(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("REDIS0009".getBytes("US-ASCII"))
    parts.foreach(out.write)
    out.write(0xFF)
    out.write(new Array[Byte](8)) // CRC trailer (unchecked)
    out.toByteArray
  }

  private def len(n: Int): Array[Byte] = {
    require(n < 64); Array(n.toByte)
  }
  private def str(s: String): Array[Byte] = len(s.length) ++ s.getBytes("UTF-8")
  private def doubleLe(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    (0 until 8).map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray
  }

  test("parses ZSET_2 (binary doubles), legacy ZSET scores, and int members") {
    val zset2 = Array(5.toByte) ++ str("Customer") ++ len(3) ++
      str("""{"email":"a@test.com"}""") ++ doubleLe(1.5) ++
      Array(0xC1.toByte, 0x39.toByte, 0x05.toByte) ++ // INT16 LE member: 1337
      doubleLe(-2.0) ++
      Array(0xC0.toByte, 0xF6.toByte) ++ // INT8 member: -10
      doubleLe(0.25)
    val zsetLegacy = Array(1.toByte) ++ str("scores") ++ len(2) ++
      str("m1") ++ Array(3.toByte) ++ "4.5".getBytes("US-ASCII") ++
      str("m2") ++ Array(254.toByte) // sentinel: +Inf score
    val bytes = buildRdb(
      Array(0xFE.toByte, 0.toByte), // SELECTDB 0
      Array(0xFC.toByte) ++ new Array[Byte](8), // ms-expiry on next record
      Array(0xF9.toByte, 0xC3.toByte), // FREQ: one RAW byte (even >= 0xC0)
      zset2,
      Array(0xFE.toByte, 2.toByte), // SELECTDB 2
      Array(0xFD.toByte) ++ new Array[Byte](4), // s-expiry on next record
      zsetLegacy)
    val got = RedisRdb.parseZSets(bytes)
    assert(got == Seq(
      RedisRdb.ZSetEntry(0, "Customer", """{"email":"a@test.com"}""", 1.5),
      RedisRdb.ZSetEntry(0, "Customer", "1337", -2.0),
      RedisRdb.ZSetEntry(0, "Customer", "-10", 0.25),
      RedisRdb.ZSetEntry(2, "scores", "m1", 4.5),
      RedisRdb.ZSetEntry(2, "scores", "m2", Double.PositiveInfinity)))
  }

  test("LZF round-trip: decompress of a hand-built stream") {
    // literal run "abc" + back-reference of 4 bytes at offset 3 ("abca")
    val stream = Array[Byte](0x02, 'a', 'b', 'c', (2 << 5).toByte, 0x02)
    assert(new String(RedisRdb.lzfDecompress(stream, 7), "US-ASCII") == "abcabca")
  }

  test("writeZSet2 round-trips through the parser across length tiers") {
    // 6-bit, 14-bit, and 32-bit length encodings all round-trip: member
    // lengths span the tiers, and an 18k-entry set forces the 32-bit
    // count path (op125's writer dual of the parse path)
    val tmp = tempDir("graft_rdbw_").resolve("zset.rdb")
    try {
      val long14 = "m" * 100       // 14-bit string length
      val entries = Seq("short" -> 1.5, long14 -> -0.25) ++
        (0 until 18000).map(i => s"e$i" -> i.toDouble)
      RedisRdb.writeZSet2(tmp.toString, "Customer", entries, db = 3)
      val got = RedisRdb.parseZSets(
        java.nio.file.Files.readAllBytes(tmp))
      assert(got.size == entries.size)
      assert(got.head == RedisRdb.ZSetEntry(3, "Customer", "short", 1.5))
      assert(got(1) == RedisRdb.ZSetEntry(3, "Customer", long14, -0.25))
      assert(got.last == RedisRdb.ZSetEntry(3, "Customer", "e17999", 17999.0))
    } finally java.nio.file.Files.deleteIfExists(tmp): Unit
  }

  test("reference dump.rdb: Customer zset parses into the bootstrap shape") {
    val path = "/root/reference/dump.rdb"
    assume(new java.io.File(path).canRead, "reference snapshot not present")
    val entries = RedisRdb.readZSets(spark, path)
      .filter(col("key") === "Customer")
    val n = entries.count()
    assert(n > 0, "expected customer records in the snapshot")
    // every member is a customer-record JSON the change-stream decoder
    // also accepts: the bootstrap path must land in the same shape
    val customers = RedisRdb.customers(spark, path)
    assert(customers.count() == n,
      "every zset member should decode to a non-null (email, birthDay) record")
    val bad = customers
      .filter(!col("email").contains("@") || length(col("birthYear")) =!= 4)
      .count()
    assert(bad == 0, s"$bad records decoded with malformed email/birthYear")
  }
}
