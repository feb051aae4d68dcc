package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram
  * Jaccard verification.
  *
  * Every expression here is built from codegen'd `functions._` columns —
  * no UDFs — and is deliberately constructed from primitives that have
  * exact DuckDB equivalents (md5, substr, instr, list ops) so the whole
  * family is oracle-checkable bit-for-bit.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on the group key (map-side partial
  *    aggregation applies);
  *  - MinHash candidates come from a *band bucket* groupBy/self-join —
  *    never an all-pairs cross join; pair volume is bounded by bucket
  *    sizes, the classic LSH guarantee;
  *  - SimHash pairs are blocked the same way (join on the simhash value /
  *    rotated bands for hamming>0);
  *  - Jaccard verification joins only within a blocking key.
  *  - md5 here is the portable choice for oracle parity; on a real
  *    cluster swap in xxhash64 (also codegen'd, ~10× faster) — the
  *    operator shape is identical.
  */
object Dedup {

  /** Lower-cased whitespace words. */
  def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Word n-gram shingles, space-joined. Empty when fewer than n words.
    * Evaluated by the fused native expression (one loop per row —
    * shingling feeds every n-gram operator and the HOF form is
    * interpreted + allocation-bound, see
    * [[graft.expressions.ArrayShingles]]); [[shinglesComposable]] is
    * the oracle-shaped construction the spec pins it against.
    *
    * Uses the fused expression when `graft.GraftExtensions` is on the
    * active session (every library entry-point session installs it)
    * and DEGRADES to [[shinglesComposable]] otherwise: the two are
    * spec-pinned identical, so an external caller without the
    * extension gets correct — merely slower — results instead of an
    * undefined-function AnalysisException at runtime from every
    * operator built on shingling (minhash, jaccard, contamination,
    * dup-ngram/dup-span, prefix join).
    */
  def shingles(text: Column, n: Int): Column =
    if (graft.expressions.Fused.available("shingles"))
      call_function("shingles", text, lit(n))
    else shinglesComposable(text, n)

  /** The composable `functions._` construction of [[shingles]] — the
    * exact shape the DuckDB oracle encodes in SQL, kept as the spec
    * cross-check for the fused expression.
    */
  def shinglesComposable(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: canonical row = min(id) per key; emits the canonical id
    * and the duplicate count. One shuffle on the key hash.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature: k independent permutations simulated as
    * min over shingles of md5(i || ':' || shingle). array_min/transform
    * keep it one projection — no explode, no shuffle.
    */
  def minhashSig(text: Column, n: Int, k: Int): Seq[Column] =
    minhashSigOver(shingles(text, n), k)

  /** Signature columns over an ALREADY-MATERIALIZED shingle array
    * column. Callers that need all k signatures must project the
    * shingle array into its own column first: the k lambdas otherwise
    * each re-evaluate the O(words) shingle construction per row —
    * measured 10× slower (45 s → 4.6 s for 3 750 docs at sf0.1) with
    * byte-identical output.
    */
  def minhashSigOver(sh: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      array_min(transform(sh, s => md5(concat(lit(s"$i:"), s)))).as(f"mh$i%02d")
    }

  /** Scale-path signature: same construction with xxhash64 (codegen'd,
    * ~10× cheaper than md5) — the variant a 100 TB run uses. Not
    * oracle-portable (DuckDB has no xxhash64), hence a separate entry
    * point; equivalence of the SHAPE is covered by the md5 variant's
    * oracle plus the spec's identical-doc property tests.
    */
  def minhashSigFast(text: Column, n: Int, k: Int): Seq[Column] =
    minhashSigFastOver(shingles(text, n), k)

  /** xxhash64 signatures over a materialized shingle column — same
    * once-per-row rule as [[minhashSigOver]]. */
  def minhashSigFastOver(sh: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      array_min(transform(sh, s => xxhash64(lit(i), s))).as(f"mh$i%02d")
    }

  /** The scale-path banding: the fused native
    * [[graft.expressions.MinHashBandKeys]] expression (requires
    * `graft.GraftExtensions` on the session) — ONE tight loop per row
    * producing all band keys, no per-hash string/array allocation.
    * Spark's higher-order functions are evaluated interpreted and
    * materialize an array per signature, which made even the xxhash64
    * composable form allocation-bound (8.5 s vs sub-second fused at
    * sf0.1). Same LSH geometry as the md5 variant (whose DuckDB oracle
    * proves the construction); this is what a 100 TB run calls. Not
    * oracle-portable → rows-only driver check.
    */
  def minhashBandsFast(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val keys = call_function("minhash_bands",
      col(textCol), lit(n), lit(k), lit(bands))
    // materialize the key array once, then slice it — element_at on the
    // raw call would re-evaluate the expression per band column
    df.select(col(idCol), keys.as("__bk"))
      .select(col(idCol) +:
        (0 until bands).map(b => element_at(col("__bk"), b + 1).as(s"band$b")): _*)
  }

  /** LSH bands: band b = md5 of the concatenation of its `rowsPerBand`
    * signature components. Docs sharing ANY band key are candidates.
    *
    * Evaluated by the fused native
    * [[graft.expressions.MinHashBandKeysMd5]] expression (requires
    * `graft.GraftExtensions` on the session) — bit-identical to
    * [[minhashBandsComposable]] (spec-proven), which is the form the
    * DuckDB oracle mirrors, but one tight loop per row instead of k
    * interpreted higher-order-function arrays: 12 s → ~1 s for 5 000
    * docs at sf0.1.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val keys = call_function("minhash_bands_md5",
      col(textCol), lit(n), lit(k), lit(bands))
    // materialize the key array once, then slice it (see minhashBandsFast)
    df.select(col(idCol), keys.as("__bk"))
      .select(col(idCol) +:
        (0 until bands).map(b => element_at(col("__bk"), b + 1).as(s"band$b")): _*)
  }

  /** The composable construction of [[minhashBands]] — pure
    * `functions._` columns, the exact shape the DuckDB oracle encodes in
    * SQL. Kept as the spec cross-check for the fused expression; the
    * fused form is what entries and pipelines call.
    */
  def minhashBandsComposable(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    // shingle array materialized ONCE per row (see minhashSigOver);
    // the COMPOSABLE shingle form on purpose — this function is the
    // all-functions._ cross-check, no native expression anywhere in it
    val withSh = df.select(col(idCol),
      shinglesComposable(col(textCol), n).as("__sh"))
    val withSig = withSh.select(col(idCol) +: minhashSigOver(col("__sh"), k): _*)
    val bandCols = (0 until bands).map { b =>
      md5(concat((0 until rows).map(r => col(f"mh${b * rows + r}%02d")): _*))
        .as(s"band$b")
    }
    withSig.select(col(idCol) +: bandCols: _*)
  }

  /** Candidate near-dup pairs: explode to (id, band_idx, key), self-join
    * on the bucket — the scale-safe LSH shape (groupBy-sized buckets,
    * never all-pairs).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = minhashBands(df, idCol, textCol, n, k, bands)
    val long = banded.select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_key")))
    val a = long.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val b = long.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Candidate pairs from the SCALE-path banding
    * ([[minhashBandsFast]], xxhash64): identical join geometry to
    * [[minhashPairs]]. Exists so the fast path's OUTPUT — not just its
    * row count — is driver-verifiable: the `dedup_minhash_fast_agree`
    * entry full-outer joins these pairs against the md5 path's and the
    * oracle asserts both indicator columns are TRUE on exactly the
    * md5-oracle pair set. The two hash families differ, but at these
    * parameters both detect the same near-dup pairs (a fixture-scale
    * property the entry PROVES per run rather than assumes; real
    * non-dup collisions are filtered by the verify step downstream in
    * either path).
    */
  def minhashPairsFast(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = minhashBandsFast(df, idCol, textCol, n, k, bands)
    val long = banded.select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_key")))
    val a = long.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val b = long.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Per-band bucket COLLISIONS against the bucket's canonical doc —
    * the "attach every near-dup to its cluster head" view a streaming
    * ingest wants (vs [[minhashPairs]]' symmetric pair set): for each
    * (band_idx, band_key) bucket the winner is the minimum doc id, and
    * every other member emits (doc_id, dup_of = winner, band_idx).
    *
    * Scale shape: one map-side-combinable min per bucket + one bucket
    * equi-join — candidate-bounded like every banding path, no
    * all-pairs anywhere. The streaming twin
    * ([[graft.streaming.DedupStream.bandCollisions]]) keeps the winner
    * as per-bucket state and agrees with this batch view whenever docs
    * arrive in id order (spec-pinned); at 100 TB this is the dedup an
    * ingest pipeline runs continuously while the batch view is the
    * backfill/repair job over the corpus at rest.
    */
  def bandCollisions(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = minhashBands(df, idCol, textCol, n, k, bands)
    val long = banded.select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_key")))
    val winners = long.groupBy("band_idx", "band_key")
      .agg(min(col(idCol)).as("dup_of"))
    long.join(winners, Seq("band_idx", "band_key"))
      .filter(col(idCol) =!= col("dup_of"))
      .select(col(idCol).as("doc_id"), col("dup_of"), col("band_idx"))
  }

  /** 16-bit SimHash. Per word: v = first 4 hex digits of md5 parsed as an
    * int (portable hex parse via instr on the digit alphabet); per bit j:
    * sum over words (duplicates = natural frequency weighting) of
    * ±1 by bit j of v; simhash bit j = (sum > 0).
    */
  def simhash16(text: Column): Column =
    if (graft.expressions.Fused.available("simhash16"))
      call_function("simhash16", text)
    else simhash16Composable(text)

  /** The composable `functions._` construction of [[simhash16]] — the
    * oracle-shaped form and the fused expression's spec cross-check.
    * 16 separate `aggregate` trees re-evaluate the md5 value array per
    * bit in interpreted eval, which is why entries dispatch to the
    * fused [[graft.expressions.SimHash16]] (22 s → sub-second on the
    * sf0.1 corpus).
    */
  def simhash16Composable(text: Column): Column = {
    // portable hex parse: position of each hex digit in the alphabet
    // (Spark array_position ≡ DuckDB list_position, both 1-based)
    val alphabet = array("0123456789abcdef".map(c => lit(c.toString)): _*)
    val hexVal: Column => Column = w => {
      val h = md5(w)
      def d(p: Int) = array_position(alphabet, substring(h, p, 1)) - 1
      (d(1) * 4096) + (d(2) * 256) + (d(3) * 16) + d(4)
    }
    val vals = transform(words(text), hexVal)
    val bitSums = (0 until 16).map { j =>
      aggregate(vals, lit(0),
        (acc, v) => acc + when(floor(v / math.pow(2, j).toLong) % 2 === 1, 1).otherwise(-1))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, math.pow(2, j).toLong).otherwise(0L)
    }.reduce(_ + _)
  }

  /** SimHash near-dup pairs within a hamming radius, by pigeonhole
    * banding: split the 16-bit hash into `radius + 1` contiguous bands —
    * two hashes within hamming ≤ radius must be EXACTLY equal on at
    * least one band (at most `radius` bits differ, so at most `radius`
    * bands can be touched). Candidates come from an equi-self-join on
    * (band_idx, band_value) — a hash-partitioned join, never all-pairs —
    * then verification = bit_count(xor) ≤ radius.
    *
    * Scale: pair volume is bounded by band-bucket sizes. A 16-bit hash
    * gives only 2^4 buckets per band at radius 3 — fine for the oracle
    * fixture; a production run uses the identical plan over a 64-bit
    * simhash (16-bit bands → 65k buckets per band). The operator shape
    * (explode to r+1 bands → equi-join → verify) is the scale path.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   radius: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), simhash16(col(textCol)).as("simhash"))
    val nBands = radius + 1
    val bounds = (0 to nBands).map(i => i * 16 / nBands)
    val bandVals = (0 until nBands).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1 << width) - 1))
    }
    val banded = sh.select(col(idCol), col("simhash"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b", "hamming")
  }

  /** Eval-set contamination scan (the decontamination step every
    * training pipeline runs before a data release): train docs sharing
    * at least `minShared` distinct word n-gram shingles with any eval
    * doc, as (train_id, eval_id, n_shared) pairs.
    *
    * Scale shape: the EVAL side is tiny relative to the corpus, so its
    * exploded shingles BROADCAST; the train corpus streams past the
    * hash join without shuffling, and only the (usually minuscule)
    * matched pairs reach the aggregation. Never an all-pairs compare.
    */
  def contamination(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    minShared: Long = 1L): DataFrame = {
    def exploded(df: DataFrame, outId: String) = df.select(
      col(idCol).as(outId),
      explode(array_distinct(shingles(col(textCol), n))).as("__sh"))
    exploded(train, "train_id")
      .join(broadcast(exploded(evalSet, "eval_id")), Seq("__sh"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate GROUPS from verified near-dup pairs — the final step of
    * the dedup pipeline (candidates → verify → cluster → keep one per
    * group): connected components over the pair graph, each doc labelled
    * with the minimum doc id of its group (that min IS the canonical
    * survivor; ids cast to long, so the min is numeric).
    *
    * r9 retires the former GraphX Pregel twin; the one semantic now has
    * the repo's standard hybrid shape (the
    * [[graft.graph.GraphAnalytics.minimumSpanningForest]]
    * `metaDriverMax` argument): VERIFIED near-dup pairs are the tiny
    * tail of the dedup pipeline — banding already collapsed the corpus
    * to collision candidates and Jaccard verification pruned those —
    * so at ≤ `driverMax` pairs (two longs each, tens of MB) the
    * component labelling is metadata-scale and runs as ONE collect +
    * driver [[graft.core.UnionFind]], exactly like the MSF driver
    * tail and the distributed-rank offset collects. Above the gate
    * (a 100-TB corpus with pathological duplication), the
    * DataFrame-native pointer-jumping
    * [[graft.graph.GraphAnalytics.connectedComponents]] takes over —
    * the same engine `graph_components` benches and the randomized
    * union-find spec pins (near-dup components have diameter ~2-3;
    * the default 6 rounds cover any diameter up to ~126). Both paths
    * produce the identical min-label answer (DedupSpec pins them
    * against each other on the same pair set).
    */
  def dupGroups(pairs: DataFrame, idACol: String = "id_a",
                idBCol: String = "id_b",
                driverMax: Int = 1000000): DataFrame = {
    val spark = pairs.sparkSession
    val e = pairs.select(col(idACol).cast("long").as("src"),
      col(idBCol).cast("long").as("dst"))
    // ONE action sizes the gate AND fetches the pairs when they fit:
    // head(max+1) early-exits per partition, so the common (tiny) case
    // costs exactly one pipeline pass with no checkpoint/count round
    val got = e.head(driverMax + 1)
    if (got.length <= driverMax) {
      val sets = new graft.core.UnionFind[Long]
      got.foreach(r => sets.union(r.getLong(0), r.getLong(1)))
      spark.createDataFrame(sets.labels).toDF("doc_id", "group_id")
    } else
      // over the gate: the full pair set re-derives distributed (the
      // head() above stopped early, so nothing is reusable anyway)
      graft.graph.GraphAnalytics.connectedComponents(e)
        .select(col("id").as("doc_id"), col("component").as("group_id"))
  }

  /** The long-form banded index (id, band_idx, band_key) — the
    * projection a production corpus STORES (bucketed by band key) so
    * incoming batches probe it without re-banding the corpus. Pass its
    * result as [[incrementalDedup]]'s `corpusIndex`.
    */
  def bandedIndex(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    minhashBands(df, idCol, textCol, n, k, bands).select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_key")))

  /** Incremental dedup — flag INCOMING batch documents that near-match
    * the EXISTING corpus: band the batch, equi-join the corpus's banded
    * index on (band_idx, band_key), verify candidates with n-gram
    * Jaccard. This is the production shape at 100 TB: the corpus's
    * banded projection is computed once and stored (bucketed by band
    * key), each incoming crawl batch bands only ITSELF and probes the
    * index — no batch×batch and no corpus×corpus pairing ever happens,
    * so ingest cost is O(batch × collisions), independent of corpus
    * re-pairing.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4,
                       verifyN: Int = 2, threshold: Double = 0.05,
                       corpusIndex: Option[DataFrame] = None): DataFrame = {
    val corpusIdx = corpusIndex.getOrElse(
      bandedIndex(corpus, idCol, textCol, n, k, bands))
    val cand = bandedIndex(batch, idCol, textCol, n, k, bands)
      .select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
      .join(corpusIdx
        .select(col(idCol).as("id_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .select("id_a", "id_b").distinct()
    jaccardForPairs(cand, batch.unionByName(corpus), idCol, textCol,
      verifyN, threshold)
  }

  /** EXACT set-similarity self-join by prefix filtering (SSJoin /
    * PPJoin candidate scheme): every pair of documents whose n-gram
    * shingle SETS have Jaccard ≥ tn/td — with zero false negatives,
    * unlike the MinHash-LSH candidate paths (which trade recall for
    * fewer candidates). The two coexist deliberately: LSH is the
    * probabilistic scale default, this is the exact-recall contract
    * (compliance-grade dedup, eval-set decontamination).
    *
    * Prefix principle: order every document's token set by ONE global
    * total order (corpus frequency asc, token asc — rarest first, the
    * order that makes prefixes selective), keep only the first
    * `|x| − ⌈t·|x|⌉ + 1` tokens, and join on those prefix tokens: any
    * pair with J ≥ t must share a prefix token, so the candidate set is
    * a superset of the answer, generated from the RARE end of the
    * vocabulary (frequent tokens never join). Verification computes the
    * exact Jaccard per candidate and keeps `inter · td ≥ tn · (union)` —
    * all-integer, so the gate is bit-exact on both engines. The
    * threshold is a RATIONAL (tn/td) for the same reason.
    *
    * Scale shape: one token-frequency agg (vocabulary-sized), one
    * doc-sized sort-collect window per document (bounded by per-doc set
    * size, not corpus size), a prefix-token equi-join whose fan-out is
    * the candidate count (the filter's whole point), and a per-pair
    * array_intersect verify bounded by document length. Nothing is ever
    * corpus-quadratic unless the corpus genuinely is near-duplicate-
    * quadratic (in which case so is the answer).
    *
    * Returns (id_a, id_b, inter, na, nb, jaccard) with id_a < id_b.
    */
  def prefixFilterJoin(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tn: Int = 1, td: Int = 2): DataFrame = {
    require(n >= 1 && tn >= 1 && td >= tn,
      s"prefixFilterJoin needs n >= 1 and a threshold tn/td in (0, 1]; " +
        s"got n=$n tn=$tn td=$td")
    val spark = df.sparkSession
    import spark.implicits._
    // the exploded token table feeds the frequency agg AND the ranked-
    // array join — checkpoint it once instead of re-shingling per branch
    val ex = df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), n))).as("tk"))
      .localCheckpoint(true)
    val freq = ex.groupBy("tk").agg(count(lit(1)).as("freq"))
    // Dense integer RANK of every vocabulary token in the (freq asc,
    // token asc) global order, assigned distributed (range-partition →
    // per-partition row_number → cumulative offsets; the Mvcc write
    // path's shape — a vocabulary at 100 TB is billions of shingles, a
    // global Window.orderBy would funnel it through one task). From
    // here on the pipeline carries ONLY ints: token strings never
    // enter the prefix join or the verify. Correctness does not depend
    // on WHICH total order is used — any consistent order yields the
    // same verified pairs (the prefix filter is a superset for every
    // total order, the verify is exact) — so the oracle's (freq, tk)
    // string replay produces the identical result set.
    val nPart = spark.sessionState.conf.numShufflePartitions max 1
    val parted = freq.repartitionByRange(nPart, col("freq"), col("tk"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val pcounts = parted.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = pcounts.map { case (p, c) => val o = (p, acc); acc += c; o }.toSeq
    val wRank = Window.partitionBy(col("__pid")).orderBy(col("freq"), col("tk"))
    val ranked = parted.join(broadcast(offsets.toDF("__pid", "__off")), Seq("__pid"))
      .withColumn("rk", col("__off") + row_number().over(wRank))
      .select("tk", "rk")
    // per-doc INT rank array, ascending = the (freq, token) order;
    // arr feeds FOUR branches (both prefix-join sides + both verify
    // joins) — checkpoint the rank arrays once
    val arr = ex.join(ranked, Seq("tk"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("rk"))).as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
      // prefix length |x| − ⌈t·|x|⌉ + 1, all-integer ceil-div
      .withColumn("pfx", expr(
        s"slice(toks, 1, cast(nt - ((${tn}L * nt + ${td - 1}L) div ${td}L) + 1 as int))"))
      .localCheckpoint(true)
    // POSITIONAL filter (PPJoin): a prefix match at 0-based positions
    // (pa, pb) bounds the whole overlap at 1 + min(na−1−pa, nb−1−pb)
    // (both arrays share one global order, so for the FIRST common
    // token every other common token sits after it on both sides);
    // J ≥ tn/td needs overlap ≥ ⌈tn·(na+nb)/(tn+td)⌉. Plus the LENGTH
    // filter: J ≤ min/max, so td·min(na,nb) < tn·max(na,nb) can never
    // verify. Both prune only pairs the exact verify would reject
    // (measured 430k raw → 125k surviving pairs at sf0.1 — the verify
    // stage's input is what these bounds are buying down).
    val pe = arr.select(col("id"), col("nt"),
      posexplode(col("pfx")).as(Seq("pos", "rk")))
    val need = s"(${tn}L * (na + nb) + ${tn + td - 1}L) div ${tn + td}L"
    val cand = pe.select(col("id").as("id_a"), col("pos").as("pa"),
        col("nt").as("na"), col("rk"))
      .join(pe.select(col("id").as("id_b"), col("pos").as("pb"),
        col("nt").as("nb"), col("rk")), Seq("rk"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")) * td >=
        greatest(col("na"), col("nb")) * tn)
      .filter(lit(1L) + least(col("na") - 1L - col("pa"),
        col("nb") - 1L - col("pb")) >= expr(need))
      .select("id_a", "id_b").distinct()
    // the verify side ships each doc's token array once; while the doc
    // table fits (it's V-sized — the candidate table is the big one)
    // broadcast it so candidate pairs never shuffle with arrays
    // attached (checkpoint erased arr's stats, so the optimizer can't
    // make this call itself; the aggregate is cheap — arr is
    // materialized). Gate on BYTES, not just rows: the payload is the
    // rank arrays, so total elements is the size driver (25M longs
    // ≈ 200 MB serialized — inside the executor/driver budget; past
    // either bound the shuffled join takes over).
    val szRow = arr.agg(count(lit(1)).as("r"), sum("nt").as("e")).head()
    val smallDocs = szRow.getLong(0) <= 2000000L &&
      (!szRow.isNullAt(1) && szRow.getLong(1) <= 25000000L)
    def full(as: String, t: String, nn: String) = {
      val s0 = arr.select(col("id").as(as), col("toks").as(t),
        col("nt").as(nn))
      if (smallDocs) broadcast(s0) else s0
    }
    cand
      .join(full("id_a", "ta", "na"), Seq("id_a"))
      .join(full("id_b", "tb", "nb"), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("inter") * lit(td.toLong) >=
        lit(tn.toLong) * (col("na") + col("nb") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
  }

  /** n-gram Jaccard verification of an explicit candidate-pair set —
    * the post-LSH shape at scale: `pairs` (id_a, id_b) comes from
    * [[minhashPairs]] (or any blocked candidate generator), and work is
    * linear in |pairs| × shingles-per-doc, never quadratic in the
    * corpus. |A∩B| = count of shared distinct shingles per pair (two
    * equi-joins: pairs⋈shingles_a on id, then ⋈shingles_b on (id, sh));
    * pairs with an empty intersection score 0 via the left join.
    */
  def jaccardForPairs(pairs: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, n: Int = 2,
                      threshold: Double = 0.05): DataFrame = {
    // only docs that appear in a candidate pair need shingling: at scale
    // candidates << corpus (LSH's whole point), so semi-joining first
    // turns "shingle the corpus" into "shingle the candidates" — the
    // produced pairs are identical (every consumed shingle row carries a
    // pair id). No broadcast hint: the candidate set's size is workload-
    // dependent, and AQE picks the broadcast at runtime when it fits
    // (forcing it blind is the driver-OOM shape a 100 TB run must avoid).
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // the exploded shingle table feeds THREE subplans (both sides of
    // the intersection join + the size agg); as a lazy plan each would
    // recompute the shingling — sharing one checkpointed RDD computes
    // it once (measured ~2× on the verify stage at sf0.1)
    val ex = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        explode(array_distinct(shingles(col(textCol), n))).as("sh"))
      .localCheckpoint(false)
    val sizes = ex.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs.select("id_a", "id_b")
      .join(ex.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(ex.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs.select("id_a", "id_b")
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** n-gram Jaccard similarity for pairs sharing a blocking key
    * (candidate verification): |A∩B| / (|A|+|B|−|A∩B|) over DISTINCT
    * word n-grams. The blocking key keeps the self-join linear in block
    * size — the post-LSH verification shape.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, n: Int = 2,
                   threshold: Double = 0.05): DataFrame = {
    val ex = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), n))).as("sh"))
    val sizes = ex.groupBy("blk", "id").agg(count(lit(1)).as("n_sh"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.blk") === col("b.blk") && col("a.sh") === col("b.sh") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
