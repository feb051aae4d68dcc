package graft.api

import graft.SparkSpec

/** CLI command parsing, execution, and rendering — mirrors the
  * reference's parser tests (`/root/reference/src/cli/parser.zig`) and
  * e2e query assertions (`tests/e2e/query.zig`).
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private lazy val blocks = Seq(
    ("f1", "ws1", "function", "a.zig:main"),
    ("f2", "ws1", "function", "a.zig:helper"),
    ("i1", "ws1", "import", "a.zig:import:util"),
    ("u1", "ws1", "function", "util.zig:util"),
  ).map { case (id, ws, t, uid) =>
    (id, 1L, ws, t, uid, "a.zig", s"content of $id", false)
  }.toDF("id", "sequence", "workspace", "unit_type", "unit_id",
    "file_path", "content", "is_deleted")

  private lazy val edges = Seq(
    ("f1", "f2", "calls"),
    ("f1", "u1", "imports"),
  ).toDF("src", "dst", "edge_type")

  test("parse find with flags and defaults") {
    assert(Cli.parse(Seq("find", "--type", "function", "--name", "main")) ==
      Right(Cli.FindCmd("function", "main")))
    assert(Cli.parse(Seq("find", "--type", "function", "--name", "main",
      "--workspace", "ws1", "--max-results", "5", "--format", "json")) ==
      Right(Cli.FindCmd("function", "main", "ws1", 5, "json")))
  }

  test("parse rejects bad input with messages") {
    assert(Cli.parse(Seq()).isLeft)
    assert(Cli.parse(Seq("explode")).isLeft)
    assert(Cli.parse(Seq("find", "--type", "function")).isLeft)
    assert(Cli.parse(Seq("find", "--type", "nonsense", "--name", "x")).isLeft)
    assert(Cli.parse(Seq("show", "--relation", "callers", "--target", "x",
      "--max-depth", "NaN")).isLeft)
    assert(Cli.parse(Seq("trace", "--direction", "sideways", "--target", "x")).isLeft)
  }

  test("parse accepts every command's full flag vocabulary") {
    // regression: strict flag validation must know ALL flags its own
    // command branches require (trace --direction was once rejected)
    assert(Cli.parse(Seq("trace", "--direction", "callees", "--target", "x",
      "--max-depth", "4", "--format", "json"))
      === Right(Cli.TraceCmd("callees", "x", 4, "json")))
    assert(Cli.parse(Seq("find", "--type", "function", "--name", "f",
      "--workspace", "w", "--max-results", "5", "--format", "csv"))
      === Right(Cli.FindCmd("function", "f", "w", 5, "csv")))
    assert(Cli.parse(Seq("show", "--relation", "callers", "--target", "t",
      "--workspace", "w", "--max-depth", "2"))
      === Right(Cli.ShowCmd("callers", "t", "w", 2, "text")))
  }

  test("find resolves by name with struct_type alias") {
    val r = Cli.execute(blocks, edges,
      Cli.FindCmd("function", "helper", "ws1"))
    assert(r.select("id").collect().map(_.getString(0)).toSeq == Seq("f2"))
  }

  test("show callers walks incoming edges") {
    val r = Cli.execute(blocks, edges, Cli.ShowCmd("callers", "helper", "ws1"))
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(r == Map("f2" -> 0, "f1" -> 1))
  }

  test("show imports follows only import edges") {
    val r = Cli.execute(blocks, edges, Cli.ShowCmd("imports", "main", "ws1", 2))
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(r == Map("f1" -> 0, "u1" -> 1)) // f2 (calls) excluded
  }

  test("trace callees emits paths") {
    val r = Cli.execute(blocks, edges, Cli.TraceCmd("callees", "main"))
      .collect().map(x => x.getString(0) -> x.getAs[String]("path")).toMap
    assert(r("f2") == "f1->f2")
    assert(r("u1") == "f1->u1")
  }

  test("render text/json/csv") {
    val df = Seq(("a", 1), ("b,c", 2)).toDF("name", "n")
    val text = Cli.render(df, "text")
    assert(text.startsWith("name") && text.contains("b,c"))
    val json = Cli.render(df, "json")
    assert(json.contains("""{"name":"a","n":1}"""))
    val csv = Cli.render(df, "csv")
    assert(csv.linesIterator.toSeq == Seq("name,n", "a,1", "\"b,c\",2"))
  }

  test("render json equals a toJSON join on local and distributed frames") {
    import org.apache.spark.sql.functions.{col, struct}
    val rows = Seq(
      (1L, 1.5, "plain", Seq("a", null), java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456")),
      (Long.MaxValue, Double.NaN, "quote \" back \\ tab \t nl \n ctl \u0001",
        Seq.empty[String], java.sql.Timestamp.valueOf("1969-12-31 23:59:59")),
      (-7L, -0.0, "é 😀 �", null, null),
      (0L, Double.PositiveInfinity, null, Seq("x\"y"), java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
    val local = rows.toDF("n", "d", "s", "arr", "ts")
      .withColumn("nested", struct(col("n"), col("arr")))
    val distributed = spark.createDataFrame(local.rdd, local.schema).repartition(2)
    for (df <- Seq(local, distributed))
      assert(Cli.render(df, "json") == df.toJSON.collect().mkString("[", ",", "]"))
    assert(Cli.render(local.limit(0), "json") == "[]")
  }

  test("render llm frames blocks like format_for_llm") {
    // full block shape: source_uri + sequence print directly, the
    // remaining non-core columns become the Metadata JSON in column
    // order (operations.zig:156-175 field order)
    val df = Seq(
      ("b1", "file://a.zig#L1-L3", 7L, "fn a", "function", "ws:fn:a"),
      ("b2", "file://b.zig#L9-L12", 8L, "say \"hi\"\nline2", "function", "ws:fn:b"))
      .toDF("id", "source_uri", "sequence", "content", "unit_type", "unit_id")
    val out = Cli.render(df, "llm")
    assert(out.startsWith("Retrieved 2 blocks:\n\n"))
    assert(out.contains("--- BEGIN CONTEXT BLOCK ---\nBlock 1 (ID: b1):\n" +
      "Source: file://a.zig#L1-L3\nSequence: 7\n" +
      "Metadata: {\"unit_type\":\"function\",\"unit_id\":\"ws:fn:a\"}\n" +
      "Content: fn a\n--- END CONTEXT BLOCK ---\n\n"))
    // content is passed through verbatim (the reference streams raw
    // bytes); only METADATA values are JSON-escaped
    assert(out.contains("Content: say \"hi\"\nline2\n--- END CONTEXT BLOCK ---"))
    assert(out.split("--- BEGIN CONTEXT BLOCK ---").length == 3)
    // frames with no source/sequence columns print the fallbacks
    val bare = Cli.render(Seq(("x", "c")).toDF("id", "content"), "llm")
    assert(bare.contains("Source: unknown\nSequence: 0\nMetadata: {}\n"))
    // --format llm parses
    assert(Cli.parse(Seq("find", "--type", "function", "--name", "x",
      "--format", "llm")).exists {
      case c: Cli.FindCmd => c.format == "llm"; case _ => false
    })
  }

  test("estimate_cost mirrors the reference formula and limits") {
    import graft.query.ContextQuery
    import graft.graph.{Direction, EdgeFilter}
    val spec = ContextQuery.Spec("ws", Seq(ContextQuery.ById("x")),
      Seq(ContextQuery.Rule(Direction.Outgoing, EdgeFilter.All, 4)), 1000)
    val c = ContextQuery.estimateCost(spec)
    assert(c.timeUs == 10 + 4 * 5)
    assert(c.memoryKb == 1000 * 2L)
    assert(c.acceptable)
    // reference exceeds_limits thresholds
    assert(!ContextQuery.CostEstimate(1000001L, 1).acceptable)
    assert(!ContextQuery.CostEstimate(1, 100001L).acceptable)
  }

  test("parse rejects unknown and dangling flags") {
    assert(Cli.parse(Seq("find", "--type", "function", "--nmae", "x")).isLeft)
    assert(Cli.parse(Seq("find", "--type", "function", "--name")).isLeft)
    assert(Cli.parse(Seq("find", "stray", "--name", "x")).isLeft)
  }
}
