package graft.operators

import graft.functions.BottomKRows
import graft.functions.Exprs.hash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling / split operators (SURVEY.md §2.3).
  *
  * The reference's balanced sampler (X1, src/main.py:67-69) is an unseeded
  * per-class uniform sample; both variants here are deterministic — at 100 TB
  * a nondeterministic sample makes every downstream result unreproducible.
  *
  * Scale shape: NOT a `row_number()` window. A window partitioned by the
  * class column serializes each class through one task — a 2-class corpus
  * sorts half the data in a single reducer. Both samplers instead run one
  * [[BottomKRows]] aggregation: the map side keeps at most n candidate rows
  * per class per partition in a bounded heap, the shuffle carries only those
  * survivors (≤ n·classes·partitions heap buffers, never the data), and the
  * final merge is the exact bottom-n. No per-class sort exists anywhere in
  * the plan, so class cardinality never bounds parallelism.
  *
  * NULL CONTRACT: rows whose order key is null are excluded from the sample
  * (a null hash has no defined position; the driver tables have no null
  * keys). This differs from the window form, which ranked null-key rows
  * first (ASC NULLS FIRST) — callers with nullable keys must coalesce the
  * key or accept exclusion.
  *
  * Runtime note: past spark.sql.objectHashAggregate.sortBased.fallbackThreshold
  * (default 128) distinct classes per task, ObjectHashAggregateExec falls
  * back to sort-based aggregation AT RUNTIME — a sort over (class, heap
  * buffer) partial rows, still partition-parallel, so the "class cardinality
  * never bounds parallelism" argument holds; only the plan-level "no Sort"
  * claim is initial-plan-only.
  */
object Sampling {

  /** Column names the sampler itself introduces; caller columns must not
    * collide (checked loudly below — silently dropping them would lose a
    * legitimately `__`-named caller column with no warning). */
  private val TempCols = Set("__sample", "__pos", "__row")

  /** One bounded-heap pass: the n rows with the smallest `orderKey` per
    * class, exploded back to rows with their 1-based `sample_rank`. A
    * pre-existing `sample_rank` column is replaced (matching the window
    * form's withColumn semantics). Only the sampler's OWN temp names are
    * reserved — any other caller column, `__`-prefixed or not, passes
    * through untouched. */
  private def sampleByOrderKey(df: DataFrame, classCols: Seq[String],
                               orderKey: Column, n: Int): DataFrame = {
    val clash = df.columns.filter(TempCols)
    require(clash.isEmpty,
      s"sampler temp-column collision: rename input column(s) ${clash.mkString(", ")}")
    val keep = df.columns.filterNot(_ == "sample_rank").toIndexedSeq
    val rowStruct = struct(keep.map(col): _*)
    df.groupBy(classCols.map(col): _*)
      .agg(BottomKRows.bottomK(orderKey, rowStruct, n).as("__sample"))
      .select(posexplode(col("__sample")).as(Seq("__pos", "__row")))
      .select(col("__row.*"), (col("__pos") + 1).as("sample_rank"))
  }

  /** Exact-n per-class sample ordered by a content hash: reproducible across
    * engines (md5 exists in Spark and DuckDB alike). Adds `sample_rank`
    * (1-based within class). Selection and ranks are identical to
    * `row_number() OVER (PARTITION BY class ORDER BY md5(key), key)` for
    * STRING keys: md5 hex is fixed-width, so concatenating the tiebreak key
    * preserves the (md5, key) lexicographic order byte-for-byte — and an md5
    * tie IS a key tie, so the tiebreak only orders duplicate keys. For
    * non-string keys the tiebreak compares the key CAST TO STRING
    * lexicographically rather than in native order — observable only if two
    * DISTINCT key values collide on md5, which does not occur in practice. */
  def deterministicSample(df: DataFrame, classCols: Seq[String], hashKey: Column, n: Int): DataFrame =
    sampleByOrderKey(df, classCols, concat(md5(hashKey), hashKey.cast("string")), n)

  /** Exact-n per-class pseudo-random sample with a seed (the reference's
    * semantics, made deterministic). Orders by a seeded CONTENT hash, not
    * rand(seed): rand is only reproducible for a fixed input partitioning —
    * a different file-split layout or an upstream repartition would silently
    * change the sample (and anything derived from it, like
    * SentimentPipeline's dataset-version fingerprint). xxhash64(seed, row)
    * depends only on row values; ties occur only between fully identical
    * rows, which are interchangeable.
    *
    * The signed xxhash64 is encoded sign-flipped as zero-padded hex so the
    * heap's byte order equals signed numeric order (same draw as the window
    * form ever produced).
    *
    * `keyCols` picks which columns feed the hash. The default uses every
    * HASHABLE column sorted by name — map-typed columns are excluded
    * (xxhash64 rejects maps at analysis) and the name sort makes the draw
    * independent of column ORDER. The drawn sample still changes if columns
    * are added or removed; pass an explicit stable key subset (e.g. the
    * row's natural id) when the schema is expected to evolve. */
  def balancedSample(df: DataFrame, classCol: String, nPerClass: Int, seed: Long,
                     keyCols: Seq[String] = Nil): DataFrame = {
    val keys =
      if (keyCols.nonEmpty) keyCols
      else df.schema.fields
        .filterNot(f => hasMapType(f.dataType))
        .map(_.name).sorted.toIndexedSeq
    require(keys.nonEmpty, "balancedSample: no hashable columns to key the draw on")
    val orderKey = lpad(
      hex(xxhash64(lit(seed) +: keys.map(col): _*).bitwiseXOR(lit(Long.MinValue))),
      16, "0")
    sampleByOrderKey(df, Seq(classCol), orderKey, nPerClass).drop("sample_rank")
  }

  /** xxhash64 refuses MapType anywhere in a column's type (map ordering is
    * undefined, so its hash would be too) — recurse to catch nested maps. */
  private def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  /** 80/20-style split (reference X3, src/main.py:89). */
  def trainValidSplit(df: DataFrame, trainFraction: Double, seed: Long): (DataFrame, DataFrame) = {
    val Array(train, valid) = df.randomSplit(Array(trainFraction, 1.0 - trainFraction), seed)
    (train, valid)
  }

  /** The -ln((j+1)/(levels+1)) exponential quantile ladder in NANO units —
    * the shared integer constants that make the weighted reservoir
    * deterministic and cross-engine exact (q206's CDF-ladder discipline):
    * computed once here on the driver, embedded as literals in BOTH the
    * Spark plan and the generated DuckDB SQL, so there is no libm ln() in
    * either engine's row path to disagree about. j+1 over levels+1 keeps
    * u strictly inside (0, 1) — no infinite key, no zero key. */
  def expLadderNano(levels: Int): IndexedSeq[Long] =
    (0 until levels).map(j =>
      math.round(-math.log((j + 1).toDouble / (levels + 1)) * 1e9))

  /** Single-pass weighted reservoir sample (Efraimidis & Spirakis 2006,
    * the A-ES scheme A-ExpJ optimizes): each row draws an exponential key
    * E_i = −ln(u_i) / w_i and the sample is the k SMALLEST keys — inclusion
    * probability rises with weight exactly as weighted sampling without
    * replacement requires (the two-item race resolves heavy-vs-light at
    * w_h/(w_h+w_l)). Determinism: u_i is the salted content hash
    * md5(salt:id) quantized onto [[expLadderNano]], so the same (salt, id)
    * always draws the same key — reproducible across runs, partitionings,
    * AND engines (the sample roster hash-verifies in DuckDB). A-ExpJ's
    * exponential jumps are the SEQUENTIAL-stream optimization; the
    * cluster form is this bottom-k-of-union, a semilattice (the KMV merge
    * algebra): per-partition bounded heaps, merge keeps the k smallest —
    * [[BottomKRows]], so no global sort and no per-key window exists
    * anywhere in the plan, the same scale shape as X1. Rows with
    * non-positive weight are excluded (a zero-weight row has E = ∞).
    * Contract: `idCol` must be NONNEGATIVE (validated) — a negative long
    * hex-encodes as its two's complement (16 F-leading digits) and would
    * sort after every positive id, silently diverging from the oracle's
    * numeric (e_key, id) tie order (the BottomKRows encoding note).
    * Output: input columns + `e_key` (nano-unit exponential key) +
    * `sample_rank` (1-based pick order). */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: String,
                        k: Int, salt: String, levels: Int = 1024): DataFrame = {
    val ladder = expLadderNano(levels)
    val j = pmod(
      hash60(concat(lit(s"$salt:"), col(idCol).cast("string"))),
      lit(levels.toLong))
    require(!df.columns.contains("__lv"),
      "weightedReservoir temp-column collision: rename input column __lv")
    val keyed = df.filter(col(weightCol) > 0)
      .withColumn("__lv", element_at(typedlit(ladder), (j + 1).cast("int")))
      // integral div, NOT '/': ladder and weight are exact integers and the
      // oracle's '//' truncates — a double division here would re-introduce
      // the float the ladder exists to remove
      .withColumn("e_key", expr(s"__lv div CAST($weightCol AS BIGINT)"))
      .drop("__lv")
    // e_key and id are nonnegative, so zero-padded hex IS numeric byte
    // order (the balancedSample encoding argument). The id's half of the
    // contract is ENFORCED, not assumed (ADVICE r20: the scaladoc said
    // "(validated)" while nothing validated) — a negative id would
    // hex-encode as two's complement and silently sort after every
    // positive id; raise_error makes the divergence loud instead.
    val idOk = when(col(idCol) >= 0, col(idCol)).otherwise(raise_error(
      concat(lit(s"weightedReservoir: negative $idCol violates the nonnegative-id contract: "),
        col(idCol).cast("string"))))
    val orderKey = concat(
      lpad(hex(col("e_key")), 16, "0"),
      lpad(hex(idOk), 16, "0"))
    sampleByOrderKey(keyed, Nil, orderKey, k)
  }

  /** Probability-proportional-to-size SYSTEMATIC sample: walk the corpus in
    * `idCol` order, drop a pin every `step = max(total_weight div targetN, 1)`
    * weight units, keep the rows a pin lands in. Every row's inclusion
    * probability is proportional to its weight (the mixture-subsampling
    * primitive: token-weighted corpus thinning keeps the TOKEN distribution,
    * where uniform row sampling would skew it toward short documents), and
    * rows heavier than `step` are kept with `n_hits > 1` so downstream
    * weighting stays unbiased — a PPS sample that silently capped
    * multiplicity would under-represent exactly the heavy rows it exists
    * to keep.
    *
    * Everything is integer arithmetic over an exclusive prefix sum, so the
    * selection is deterministic and cross-engine exact. The prefix sum runs
    * STRIPED ([[StripedWindow]], q36's machinery): 16 range stripes over
    * `idCol`, so no single task ever owns the corpus-wide ordered scan. The
    * 1-row total rides the broadcast scalar idiom.
    */
  def ppsSystematic(df: DataFrame, idCol: String, weightCol: String,
                    targetN: Long, stripes: Int = 16): DataFrame = {
    require(targetN >= 1, "targetN must be positive")
    val t = df.withColumn("__w", col(weightCol).cast("long"))
    val striped = StripedWindow.withRangeStripe(t, idCol, stripes)
    val c = StripedWindow.runningSum(striped, Nil, Seq(col(idCol)),
        col("__w"), "cum_before", includeCurrent = false)
      .drop(StripedWindow.StripeCol)
    val total = t.agg(sum(col("__w")).as("__total"))
    c.crossJoin(broadcast(total))
      .withColumn("__step", greatest(expr(s"__total div $targetN"), lit(1L)))
      .withColumn("n_hits",
        expr("((cum_before + __w) div __step) - (cum_before div __step)"))
      .filter(col("n_hits") >= 1)
      .drop("__w", "__total", "__step")
  }
}
