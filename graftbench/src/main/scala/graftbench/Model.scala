package graftbench

import org.apache.spark.sql.SparkSession

/** An independent answer key for the served queries: the store's raw
  * parquet tables read back into plain collections, with the current
  * view, name resolution and the bounded BFS recomputed here in
  * ordinary Scala. None of the engine's query code runs, so a wrong
  * answer from the engine cannot also be the expected one.
  */
final case class Block(id: String, unitType: String, unitId: String,
                       filePath: String, sourceUri: String,
                       sequence: Long, content: String)

final class Model(val blocks: Map[String, Block],
                  out: Map[String, Seq[String]],
                  in: Map[String, Seq[String]],
                  val edgeRows: Long) {

  private def lastSeg(unitId: String): String =
    unitId.substring(unitId.lastIndexOf(':') + 1)

  private lazy val byName: Map[String, Seq[Block]] =
    blocks.values.toSeq.groupBy(b => lastSeg(b.unitId))

  /** `find --type function --name n`: matching functions by id, first k. */
  def find(name: String, k: Int): Seq[Block] =
    byName.getOrElse(name, Nil).filter(_.unitType == "function")
      .sortBy(_.id).take(k)

  private def seeds(target: String): Seq[String] =
    (byName.getOrElse(target, Nil).map(_.id) ++
      blocks.get(target).map(_.id).toSeq).distinct.sorted

  /** Bounded BFS from the blocks named `target`: every node within
    * `depth` at its minimum depth with the lexicographically smallest
    * shortest path, expansion stopping once `cap` nodes are visited,
    * then the first `cap` by (depth, id).
    */
  def bfs(target: String, callers: Boolean, depth: Int,
          cap: Int = 1000): Seq[(String, Int, Seq[String])] = {
    val adj = if (callers) in else out
    val path = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Seq[String])]
    var frontier = seeds(target)
    frontier.foreach(s => path(s) = (0, Seq(s)))
    var d = 0
    while (d < depth && path.size < cap && frontier.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.Map.empty[String, Seq[String]]
      for (u <- frontier; v <- adj.getOrElse(u, Nil) if !path.contains(v)) {
        val p = path(u)._2 :+ v
        next.get(v) match {
          case Some(q) if Model.pathOrder.lteq(q, p) => ()
          case _ => next(v) = p
        }
      }
      next.foreach { case (v, p) => path(v) = (d, p) }
      frontier = next.keys.toSeq
    }
    path.toSeq.map { case (id, (dd, p)) => (id, dd, p) }
      .sortBy(r => (r._2, r._1)).take(cap)
  }

  /** `show --relation callers|callees`: BFS rows that are blocks. */
  def show(target: String, callers: Boolean, depth: Int): Seq[(String, Int)] =
    bfs(target, callers, depth).collect {
      case (id, d, _) if blocks.contains(id) => (id, d)
    }

  /** `trace --direction callers|callees`: (id, depth, path). */
  def trace(target: String, callers: Boolean, depth: Int): Seq[(String, Int, String)] =
    bfs(target, callers, depth).map { case (id, d, p) => (id, d, p.mkString("->")) }
}

object Model {

  /** A string as the binary protocol's 256-byte fields carry it. */
  def clip(s: String): String = {
    val b = s.getBytes("UTF-8")
    if (b.length <= 256) s else new String(b, 0, 256, "UTF-8")
  }

  /** Spark's array order for equal-length string arrays: element-wise. */
  val pathOrder: Ordering[Seq[String]] = new Ordering[Seq[String]] {
    def compare(a: Seq[String], b: Seq[String]): Int =
      a.iterator.zip(b.iterator).map { case (x, y) => x.compareTo(y) }
        .find(_ != 0).getOrElse(a.length.compareTo(b.length))
  }

  /** Read the store's raw tables: latest sequence per id wins, tombstones
    * and unlinked workspaces drop out.
    */
  def load(spark: SparkSession, storeRoot: String): Model = {
    def rows(t: String, cols: String*) =
      spark.read.parquet(s"$storeRoot/$t").select(cols.head, cols.tail: _*)
        .collect().toSeq
    def latest(rs: Seq[org.apache.spark.sql.Row], key: Int, seq: Int) =
      rs.groupBy(_.getString(key)).values.map(_.maxBy(_.getLong(seq)))
    val live = latest(rows("registry", "id", "sequence", "is_deleted"), 0, 1)
      .filterNot(_.getBoolean(2)).map(_.getString(0)).toSet
    val blocks = latest(rows("blocks", "id", "sequence", "is_deleted",
        "workspace", "unit_type", "unit_id", "file_path", "source_uri",
        "content"), 0, 1)
      .filter(r => !r.getBoolean(2) && live(r.getString(3)))
      .map(r => r.getString(0) -> Block(r.getString(0), r.getString(4),
        r.getString(5), r.getString(6), r.getString(7), r.getLong(1),
        r.getString(8)))
      .toMap
    val edges = rows("edges", "src", "dst", "workspace")
      .filter(r => live(r.getString(2)))
    val pairs = edges.map(r => (r.getString(0), r.getString(1))).distinct
    new Model(blocks,
      pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      pairs.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) },
      edges.size.toLong)
  }
}
