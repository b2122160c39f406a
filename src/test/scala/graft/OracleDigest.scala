package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** SHA-256 of every `SparkEntry.oracleSql` string, rendered for a scale dir
  * that need not exist (rendering reads no data). EntrySpec compares them
  * with the checked-in `oracle_sql.sha256`; a change that alters an oracle
  * on purpose regenerates that file with
  * `sbt "Test/runMain graft.OracleDigest src/test/resources/oracle_sql.sha256"`. */
object OracleDigest {
  val Dir = "other/scale-dir"

  def digests(): Map[String, String] =
    SparkEntry.oracleSql(Dir).map { case (k, sql) =>
      k -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(sql.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    }

  /** One `key sha256` line per oracle, sorted by key. */
  def render(d: Map[String, String]): String =
    d.toSeq.sorted.map { case (k, h) => s"$k $h\n" }.mkString

  def parse(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split(' ')
      k -> h
    }.toMap

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: OracleDigest <out file>")
    Files.write(Paths.get(args(0)), render(digests()).getBytes(UTF_8))
  }
}
