package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.sources.{CollectionStore, FaissSource}

/** FAISS IndexFlat bulk-load (S6 second branch): header parsing across the
  * metric fourccs, legacy float-vector layout, distributed byte-range
  * reconstruct_n round-trip, loud rejects for non-flat families, and the
  * suffix-dispatching loader. */
class FaissSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("faissspec").resolve(name).toString

  test("IndexFlatIP round-trip: write then distributed read returns exact rows") {
    val vectors = (0 until 100).map(i =>
      Array.tabulate(16)(j => (i * 13 - j * 5 + 0.5f) / 7.0f))
    val path = tmp("flat.index")
    FaissSource.writeIndexFlat(path, vectors)
    val back = FaissSource.readVectors(spark, path)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(back.length == 100)
    back.foreach { case (id, v) =>
      assert(v.toSeq == vectors(id.toInt).map(_.toDouble).toSeq, s"row $id differs")
    }
    assert(FaissSource.readVectors(spark, path).rdd.getNumPartitions > 1,
      "single-partition read")
  }

  test("L2 fourcc parses; legacy IxFl float-vector count parses") {
    val vectors = (0 until 5).map(i => Array.fill(3)(i.toFloat))
    val l2 = tmp("l2.index")
    FaissSource.writeIndexFlat(l2, vectors, innerProduct = false)
    assert(FaissSource.readVectors(spark, l2).count() == 5)
    // hand-build a legacy "IxFl" file: vector count = ELEMENTS, not bytes
    val bb = ByteBuffer.allocate(45 + 5 * 3 * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("IxFl".getBytes("ISO-8859-1"))
    bb.putInt(3); bb.putLong(5L); bb.putLong(0L); bb.putLong(0L)
    bb.put(1.toByte); bb.putInt(1)
    bb.putLong(15L) // 5 rows x 3 dims, element count
    vectors.foreach(_.foreach(bb.putFloat))
    val legacy = tmp("legacy.index")
    Files.write(Paths.get(legacy), bb.array())
    val rows = FaissSource.readVectors(spark, legacy)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(rows.map(_._2.toSeq).toSeq == vectors.map(_.map(_.toDouble).toSeq))
  }

  test("non-flat index families and bad counts are rejected loudly") {
    val ivf = ByteBuffer.allocate(45).order(ByteOrder.LITTLE_ENDIAN)
    ivf.put("IwFl".getBytes("ISO-8859-1")) // IVF-flat fourcc
    intercept[Exception](FaissSource.parseHeader(ivf.array()))
    val bad = ByteBuffer.allocate(45).order(ByteOrder.LITTLE_ENDIAN)
    bad.put("IxFI".getBytes("ISO-8859-1"))
    bad.putInt(4); bad.putLong(2L); bad.putLong(0L); bad.putLong(0L)
    bad.put(1.toByte); bad.putInt(0)
    bad.putLong(999L) // wrong code-vector length
    intercept[Exception](FaissSource.parseHeader(bad.array()))
  }

  test("bulkLoad dispatches on suffix and normalizes like every write path") {
    val vectors = (0 until 8).map(i => Array.fill(4)(i + 2.0f))
    val path = tmp("dispatch.index")
    FaissSource.writeIndexFlat(path, vectors)
    val loaded = CollectionStore.bulkLoad(spark, path, None)
    assert(loaded.count() == 8)
    val ids = loaded.select("id", "user_id").as[(Long, String)].collect().toMap
    assert(ids(5L) == "migrated_user_5")
    val norms = loaded
      .select(org.apache.spark.sql.functions.round(
        graft.functions.VectorOps.dot(
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("embedding")), 6))
      .as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-6))
  }
}
