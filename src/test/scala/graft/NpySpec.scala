package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.{CollectionStore, NpySource}

/** NPY bulk-load (S6): header parsing, distributed byte-range round-trip,
  * and the migration join semantics. */
class NpySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("npyspec").resolve(name).toString

  test("float32 round-trip: write then distributed read returns exact rows") {
    val vectors = (0 until 100).map(i =>
      Array.tabulate(16)(j => (i * 31 + j * 7 + 0.25f) / 3.0f))
    val path = tmp("roundtrip.npy")
    NpySource.writeFloat32(path, vectors)
    val back = NpySource.readVectors(spark, path)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(back.length == 100)
    back.foreach { case (id, v) =>
      assert(v.toSeq == vectors(id.toInt).map(_.toDouble).toSeq, s"row $id differs")
    }
  }

  test("reader splits one file across multiple partitions") {
    val vectors = (0 until 64).map(i => Array.fill(4)(i.toFloat))
    val path = tmp("parts.npy")
    NpySource.writeFloat32(path, vectors)
    val df = NpySource.readVectors(spark, path)
    assert(df.rdd.getNumPartitions > 1, "single-partition read")
    assert(df.count() == 64)
  }

  test("f8 matrices and v2 headers parse; fortran order is rejected") {
    // handcrafted NPY v1 <f8 (2x3)
    val dict = "{'descr': '<f8', 'fortran_order': False, 'shape': (2, 3), }\n"
    val data = Array(1.5, -2.25, 3.0, 4.0, 5.5, -6.125)
    val bb = ByteBuffer.allocate(10 + dict.length + data.length * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes).put(1.toByte).put(0.toByte)
    bb.putShort(dict.length.toShort)
    bb.put(dict.getBytes)
    data.foreach(bb.putDouble)
    val path = tmp("f8.npy")
    Files.write(Paths.get(path), bb.array())
    val rows = NpySource.readVectors(spark, path)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(rows.map(_._2.toSeq).toSeq ==
      Seq(Seq(1.5, -2.25, 3.0), Seq(4.0, 5.5, -6.125)))

    val fdict = "{'descr': '<f4', 'fortran_order': True, 'shape': (2, 3), }\n"
    val fb = ByteBuffer.allocate(10 + fdict.length).order(ByteOrder.LITTLE_ENDIAN)
    fb.put(0x93.toByte).put("NUMPY".getBytes).put(1.toByte).put(0.toByte)
    fb.putShort(fdict.length.toShort).put(fdict.getBytes)
    intercept[Exception](NpySource.parseHeader(fb.array()))
  }

  test("migrateNpy: metadata inner join truncates to min length (reference rule)") {
    val vectors = (0 until 10).map(i => Array.fill(4)(i + 1.0f))
    val path = tmp("migrate.npy")
    NpySource.writeFloat32(path, vectors)
    val meta = (0L until 7L).map(i => (i, s"user_$i")).toDF("vec_id", "user_id")
    val migrated = CollectionStore.migrateNpy(spark, path, Some(meta))
    assert(migrated.count() == 7) // truncated to min(10 vectors, 7 metadata)
    // default identities when metadata is absent
    val defaults = CollectionStore.migrateNpy(spark, path, None)
      .select("id", "user_id").as[(Long, String)].collect().toMap
    assert(defaults.size == 10 && defaults(3L) == "migrated_user_3")
    // ingest normalization: every embedding is unit length
    val norms = CollectionStore.migrateNpy(spark, path, None)
      .select(round(graft.functions.VectorOps.dot(col("embedding"), col("embedding")), 6))
      .as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-6))
  }
}
