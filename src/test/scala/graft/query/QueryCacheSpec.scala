package graft.query

import graft.SparkSpec

class QueryCacheSpec extends SparkSpec {
  import spark.implicits._

  private def df(n: Int) = (1 to n).toDF("x")

  test("hit returns the same DataFrame and counts stats") {
    val c = new QueryCache()
    val a = c.getOrElseUpdate("k")(df(3))
    val b = c.getOrElseUpdate("k")(df(99))
    assert(a eq b)
    assert(b.count() == 3)
    assert(c.stats == (1L, 1L, 0L))
  }

  test("TTL expiry recomputes") {
    var now = 0L
    val c = new QueryCache(ttlMs = 10, clock = () => now)
    c.getOrElseUpdate("k")(df(3))
    now = 11
    val b = c.getOrElseUpdate("k")(df(5))
    assert(b.count() == 5)
    assert(c.stats._3 == 1L) // one eviction
  }

  test("TTL runs from creation: a hot entry still expires") {
    var now = 0L
    val c = new QueryCache(ttlMs = 10, clock = () => now)
    c.getOrElseUpdate("k")(df(3))
    now = 6
    assert(c.getOrElseUpdate("k")(df(9)).count() == 3) // hit, within TTL
    now = 11 // past creation+TTL even though it was hit at t=6
    assert(c.getOrElseUpdate("k")(df(5)).count() == 5)
  }

  test("overflow evicts the LRU quarter") {
    val c = new QueryCache(maxEntries = 4)
    (1 to 5).foreach(i => c.getOrElseUpdate(s"k$i")(df(i)))
    assert(c.size == 4)
    assert(c.getOrElseUpdate("k1")(df(42)).count() == 42) // k1 was evicted
  }

  test("invalidateAll empties the cache") {
    val c = new QueryCache()
    c.getOrElseUpdate("a")(df(1))
    c.getOrElseUpdate("b")(df(2))
    c.invalidateAll()
    assert(c.size == 0)
    assert(c.getOrElseUpdate("a")(df(7)).count() == 7)
  }

  test("versioned: same version hits; a new version releases the old value and rebuilds") {
    val c = new QueryCache()
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(version: String) =
      c.versioned("k", version)(s"built at $version")(released += _)
    assert(get("e1") == "built at e1")
    assert(get("e1") == "built at e1" && released.isEmpty)
    assert(get("e2") == "built at e2")
    assert(released == Seq("built at e1"))
    assert(c.stats == (1L, 2L, 1L) && c.size == 1)
    c.invalidateAll()
    assert(released == Seq("built at e1", "built at e2") && c.size == 0)
  }

  test("storedArtifact: builds once, survives a checkpoint sweep, re-reads after invalidation") {
    var builds = 0
    def build() = { builds += 1; Seq(("a", 1L), ("b", 2L))
      .toDF("id", "v").localCheckpoint(true) } // checkpoint lineage, like the loops
    // keys must embed an immutable input-dir segment (enforced, r12);
    // this inline fixture's "input" is the literal Seq — a pseudo dir
    val key = s"/inline-fixture|spec|artifact|${System.nanoTime()}"
    val a1 = QueryCache.storedArtifact(spark, key)(build())
    assert(a1.count() == 2 && builds == 1)
    // second call: same artifact, no rebuild
    val a2 = QueryCache.storedArtifact(spark, key)(build())
    assert(builds == 1)
    // the hazard the parquet backing exists for: sever every anonymous
    // checkpoint RDD (what Bench/Verify do between entries), then drop
    // the in-memory copy — the artifact must still be fully readable
    graft.core.Checkpoints.sweepAnonymous(spark)
    a2.unpersist(true)
    assert(a2.orderBy("id").collect().map(_.getString(0)).toSeq ==
      Seq("a", "b"))
    // write invalidation drops the MEMORY residency only (r11): the
    // cache entry is gone (size drops), but the parquet directory —
    // the ingest-written index — survives and the next call RE-READS
    // it instead of recomputing, exactly as the reference's SSTables
    // survive a put_block (its put invalidates the query-result cache,
    // engine.zig:493-502, and deletes nothing on disk).
    val sizeBefore = QueryCache.forSession(spark).size
    QueryCache.forSession(spark).invalidateAll()
    assert(QueryCache.forSession(spark).size == 0 && sizeBefore > 0)
    val a3 = QueryCache.storedArtifact(spark, key)(build())
    assert(builds == 1, "post-invalidation call must re-read, not recompute")
    assert(a3.orderBy("id").collect().map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("storedArtifact rejects keys without an input-dir segment") {
    // the stale-read contract (keys are pure functions of immutable
    // inputs) is mechanical now: a key that embeds no absolute-path
    // segment — e.g. one derived from MVCC-mutable workspace state —
    // fails loudly instead of silently serving pre-write parquet
    val e = intercept[IllegalArgumentException] {
      QueryCache.storedArtifact(spark, "graft|mutable-state|r1")(df(1))
    }
    assert(e.getMessage.contains("immutable input dir"))
  }

  test("graph artifact queries accept a RELATIVE input dir") {
    // r13 (ADVICE): the storedArtifact require demands an
    // absolute-path segment, but callers passed the user-supplied
    // testdata dir verbatim — a relative-but-immutable dir threw
    // IllegalArgumentException on every artifact query. Keys now
    // absolutize at the build site (QueriesGraph.artifactKey).
    val rel = "../testdata/sf0.001"
    assume(new java.io.File(rel).isDirectory)
    assert(graft.Queries.queries("graph_components")(spark, rel).count() > 0)
  }

  test("MVCC write invalidates the session cache behind a real query") {
    import graft.graph.CodeGraph
    val dir = "/root/testdata/sf0.001"
    val before = CodeGraph.edges(spark, dir).count() // populates the cache
    val c = QueryCache.forSession(spark)
    assert(c.size > 0, "CodeGraph materialization must go through QueryCache")
    // any mutation through the write path invalidates every cached result
    val base = Seq(("x", 1L, "v", false))
      .toDF("id", "sequence", "content", "is_deleted")
    graft.core.Mvcc.putBlocks(base, Seq(("y", "w")).toDF("id", "content"))
    assert(c.size == 0, "put_block must invalidate the query cache")
    // the query path transparently re-derives after invalidation
    assert(CodeGraph.edges(spark, dir).count() == before)
    assert(c.stats._3 >= 1L) // evictions counted
  }
}
