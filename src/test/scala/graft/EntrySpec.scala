package graft

/** Contract checks on the driver surface: entry() returns rows; every query
  * runs at sf0.001 and returns a deterministic non-degenerate result; every
  * oracle key refers to an existing query, the oracle reads the side
  * tables of the dir it is rendered for, and every oracle's text matches
  * its checked-in digest. */
class EntrySpec extends SparkSpec {

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val orphan = SparkEntry.oracleSql(sf001).keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracle without query: $orphan")
  }

  test("every query runs at sf0.001 and is deterministic across two runs") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val a = fn(spark, sf001).collect()
        val b = fn(spark, sf001).collect()
        if (a.sameElements(b)) None else Some(s"$name: nondeterministic")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracleSql reads only the scale dir's own side tables") {
    val dirB = "other/scale-dir" // rendering reads no data: need not exist
    val (sanA, sanB) = (SparkEntry.san(sf001), SparkEntry.san(dirB))
    val a = SparkEntry.oracleSql(sf001)
    val paths = a.values.flatMap("/tmp/graft_[A-Za-z0-9_]+".r.findAllIn(_)).toSet
    assert(paths.nonEmpty)
    val stray = paths.filter(p => !p.contains(sanA) || p.contains("_current"))
    assert(stray.isEmpty, s"side tables not keyed by $sf001: $stray")
    // runs after the queries above built sf001's tables: the rendering
    // still depends on the dir argument alone
    assert(a.map { case (k, v) => k -> v.replace(sanA, sanB) } ==
      SparkEntry.oracleSql(dirB))
  }

  test("every oracleSql string matches its digest in oracle_sql.sha256") {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "oracle_sql.sha256 missing from test resources")
    val want = try OracleDigest.parse(
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
    val got = OracleDigest.digests()
    val bad = (want.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (want.get(k), got.get(k)) match {
        case (Some(w), Some(g)) if w == g => None
        case (Some(_), Some(_)) => Some(s"$k: text differs")
        case (Some(_), None) => Some(s"$k: missing from oracleSql")
        case _ => Some(s"$k: not in oracle_sql.sha256")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
