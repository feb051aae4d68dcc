package graftbench

/** Seeded generation of everything the program receives: the served
  * request stream and the edit cycles. Pure functions of the seed and
  * of the (digest-pinned) corpus's own names, so the same seed gives the
  * same lists on every commit.
  */
object Gen {

  /** kind: find | callers | callees | trace | status; protocol: line |
    * binary. `depth` is the traversal depth (1-3) where it applies.
    */
  final case class Request(kind: String, protocol: String, target: String,
                           depth: Int)

  /** Cycle `i` appends function `name` (which calls `callee`) to `file`,
    * after restoring the file the previous cycle edited.
    */
  final case class Edit(cycle: Int, file: String, name: String,
                        callee: String)

  /** The mix as a fixed schedule of 20 (kind, protocol, depth) slots:
    * find 40%, show callers 20%, show callees 15%, trace 15%, status
    * 10%; each kind alternates protocols and cycles depth 1-3, and the
    * kinds are interleaved so that the first 8 slots hold every kind. A
    * run lasts about one block, so the seed picks targets only: a run's
    * composition never varies with it.
    */
  val Schedule: IndexedSeq[(String, String, Int)] = {
    val kinds = "FCFEFTSFCFETFCFSFETC".map {
      case 'F' => "find"; case 'C' => "callers"; case 'E' => "callees"
      case 'T' => "trace"; case 'S' => "status"
    }
    // first protocol and depth per kind, chosen so the 20 slots split
    // 10/10 between protocols and the first of each traversal differs
    val first = Map("find" -> (0, 1), "callers" -> (0, 1), "callees" -> (0, 2),
      "trace" -> (1, 3), "status" -> (0, 1))
    kinds.indices.map { i =>
      val k = kinds(i)
      val nth = kinds.take(i).count(_ == k)
      val (p0, d0) = first(k)
      (k, if ((p0 + nth) % 2 == 0) "line" else "binary", (d0 - 1 + nth) % 3 + 1)
    }
  }

  /** Zipf(1) over `n` ranks: rank k is drawn with weight 1/(k+1). */
  final class Zipf(n: Int, rnd: scala.util.Random) {
    private val cum: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / (k + 1))
      w.scanLeft(0.0)(_ + _).tail
    }
    def next(): Int = {
      val u = rnd.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `n` requests over `names` (distinct function names of the store),
    * following [[Schedule]]. The popularity order of the names is fixed
    * (by a hash of the name), so every seed asks about the same hot set
    * and the seed draws which names in which order: with a seeded hot
    * set, each seed would weight a different few functions' costs and
    * no run length would bring the seeds' figures together.
    * `reaches(kind, depth, name)` says whether a traversal of that kind
    * from `name` finds nodes at `depth`, so that it runs all `depth`
    * levels. A traversal slot draws its target, Zipf-skewed in the same
    * popularity order, from the names that reach its depth: a depth-3
    * request from a function nobody calls would stop after one level.
    */
  def requests(seed: Long, names: Seq[String], n: Int,
               reaches: (String, Int, String) => Boolean = (_, _, _) => true
              ): IndexedSeq[Request] = {
    require(names.nonEmpty, "no target names")
    val rnd = new scala.util.Random(seed)
    val byRank = names.distinct.sortBy(x => (scala.util.hashing.MurmurHash3.stringHash(x), x))
      .toIndexedSeq
    val pools = Schedule.map { case (k, _, d) => (k, d) }.distinct.map { case (k, d) =>
      val pool = if (k == "find" || k == "status") byRank else byRank.filter(reaches(k, d, _))
      require(pool.nonEmpty, s"no target reaches depth $d for $k")
      (k, d) -> (pool, new Zipf(pool.size, rnd))
    }.toMap
    (0 until n).map { i =>
      val (k, p, d) = Schedule(i % Schedule.size)
      val (pool, zipf) = pools((k, d))
      Request(k, p, if (k == "status") "" else pool(zipf.next()), d)
    }
  }

  /** `n` edit cycles: each picks a file of the store and a top-level
    * function for the new function to call.
    */
  def edits(seed: Long, files: Seq[String], callees: Seq[String],
            n: Int): IndexedSeq[Edit] = {
    require(files.nonEmpty && callees.nonEmpty, "nothing to edit")
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val fs = files.distinct.sorted.toIndexedSeq
    val cs = callees.distinct.sorted.toIndexedSeq
    (0 until n).map { i =>
      Edit(i, fs(rnd.nextInt(fs.size)), s"graft_bench_${seed}_$i",
        cs(rnd.nextInt(cs.size)))
    }
  }
}
