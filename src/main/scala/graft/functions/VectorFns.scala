package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>`/`array<double>` embedding columns.
  *
  * The scalar kernels (cosine / dot / l2sq) are native codegen
  * `Expression`s ([[CosineSim]], [[DotProduct]], [[L2Sq]]) — primitive
  * ArrayData reads fused into the consuming whole-stage-codegen loop,
  * with strict sequential left-to-right double accumulation that is
  * bitwise-identical to DuckDB's list functions (so the oracle compares
  * rounded values exactly) and to the UDF twins still registered for SQL
  * (SqlFunctionsSpec pins the parity).
  */
object VectorFns {

  private val cosineUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  })

  private val dotUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  })

  private val l2sqUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  })

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential-fold dot product in double precision via the native
    * codegen'd [[DotProduct]] expression (float arrays read natively —
    * no cast-to-array<double> copy per row; the UDF kernel stays
    * registered for SQL as `dot_product`, bit-parity pinned by
    * SqlFunctionsSpec).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      DotProduct(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)
      )
    )

  /** Cosine similarity via the native codegen'd [[CosineSim]] expression
    * (the UDF kernel remains registered for SQL as `cosine_sim`).
    * Float arrays are read natively — no cast-to-array<double> copy per
    * row (float→double widening per ELEMENT is exact, so values are
    * bitwise-unchanged); non-array inputs still go through the cast so
    * the analysis error surfaces as before.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CosineSim(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)
      )
    )

  /** Squared L2 distance (monotone in L2 — fine for ranking, cheaper)
    * via the native codegen'd [[L2Sq]] expression; same migration notes
    * as [[dot]].
    */
  def l2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      L2Sq(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)
      )
    )

  /** The `nAssign` centroid indices nearest an `array<float>` vector via
    * the native codegen'd [[NearestCells]] expression (distance asc,
    * tie → lower index; bit-identical to the retired boxed UDF). The
    * centroid matrix is flattened row-major once on the driver and rides
    * the plan as a single `float[]` reference object. All centroid rows
    * must share one dimensionality (IVF centroids are sampled corpus
    * vectors, so they do).
    */
  def nearestCells(vec: Column, centroids: Array[Array[Float]], nAssign: Int): Column = {
    val dim = if (centroids.isEmpty) 1 else centroids(0).length
    val flat = new Array[Float](centroids.length * dim)
    var i = 0
    while (i < centroids.length) {
      System.arraycopy(centroids(i), 0, flat, i * dim, math.min(dim, centroids(i).length))
      i += 1
    }
    org.apache.spark.sql.graft.ColumnBridge.column(
      NearestCells(org.apache.spark.sql.graft.ColumnBridge.expression(vec), flat, dim, nAssign)
    )
  }

  /** Register the scalar vector kernels for SQL use:
    * cosine_sim(a, b), dot_product(a, b), l2_sq(a, b).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("cosine_sim", cosineUdf)
    spark.udf.register("dot_product", dotUdf)
    spark.udf.register("l2_sq", l2sqUdf)
  }

  /** Per-JVM cache of the deterministic hyperplane matrices: plane
    * component (p, d) under a given seed never changes, so recomputing
    * the 3-hash murmur3 chain per ROW (nBits × dim hashes per vector,
    * per table) was pure CPU waste on every LSH signature build/probe —
    * at 100 TB the dominant cost of candidate generation. The matrix is
    * materialized lazily on the first row an executor sees (keyed by
    * (nBits, seed), grown if a longer vector appears) and reused for the
    * life of the JVM. Component VALUES and the per-plane accumulation
    * order are exactly the old per-row chain, so signatures are
    * bit-identical (SqlFunctionsSpec pins the kernel; the LSH replica
    * contracts are the end-to-end gate).
    */
  private object HyperplaneCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]]()

    // md5-derived (r16, was chained murmur3): component (p,d) of the
    // seed's plane set is md5Int60("p:d:seed") reduced to [0,1e5) then
    // scaled to [-0.5, 0.5) — in DuckDB,
    //   (('0x'||substr(md5(p||':'||d||':'||sd),1,15))::BIGINT % 100000)
    //     / 100000.0 - 0.5
    // so signatures, buckets, and LSH candidate sets are recomputable in
    // oracle SQL (sig-value parity pinned 4000/4000 on the gate corpus).
    private def component(p: Int, d: Int, sd: Int): Double = {
      val m = OracleHash.md5Int60(s"$p:$d:$sd") % 100000L
      m / 100000.0 - 0.5
    }

    /** Planes for (bits, seed) covering at least `dim` components. */
    def planes(bits: Int, sd: Int, dim: Int): Array[Array[Double]] = {
      val ref = cache.computeIfAbsent(
        (bits, sd),
        _ => new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]](Array.fill(bits)(Array.emptyDoubleArray))
      )
      val cur = ref.get()
      if (cur(0).length >= dim) cur
      else
        ref.synchronized {
          val again = ref.get()
          if (again(0).length >= dim) again
          else {
            val next = Array.tabulate(bits) { p =>
              val old = again(p)
              val ext = java.util.Arrays.copyOf(old, dim)
              var d = old.length
              while (d < dim) { ext(d) = component(p, d, sd); d += 1 }
              ext
            }
            ref.set(next)
            next
          }
        }
    }
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of dot products
    * with deterministic pseudo-random planes, packed into a long. Plane
    * component d of plane p derives from md5 of "p:d:seed"
    * ([[HyperplaneCache.component]] — oracle-recomputable, r16) scaled to
    * [-0.5, 0.5) — reproducible across JVMs and
    * executors, no driver-side RNG state or fitted model broadcast. The
    * plane matrix is hoisted out of the row loop into a per-executor
    * lazy cache ([[HyperplaneCache]]); the per-row work is the nBits
    * dot products alone.
    *
    * At 100 TB the signature is the bucketing key: candidate generation
    * becomes a shuffle on (sig) instead of a cross join.
    */
  /** ALL tables' hyperplane signatures in ONE kernel call — the batched
    * form of [[hyperplaneSig]] for multi-table consumers
    * (embeddingNearDupPairs' 32 OR-tables): signature VALUES are
    * bit-identical per table (same [[HyperplaneCache]] planes, same
    * fold), but the row pays ONE Seq unboxing and one udf dispatch
    * instead of `tables` of each — the per-table `cast(array<double>)` +
    * boxed-Seq churn was the dominant constant in the 100× signature
    * build (r15). Returns `array<long>`, one element per seed.
    */
  def hyperplaneSigs(vec: Column, nBits: Int, seeds: Seq[Int]): Column = {
    val bits = nBits
    val sds = seeds.toArray
    val f = udf((v: Seq[Double]) => {
      // Family rule: missing vectors bucket nowhere. A null embedding
      // yields a null signature array (posexplode of null → zero rows),
      // so one bad row can't kill a whole index/dedup job.
      if (v == null) null
      else {
        val arr = v.toArray
        val out = new Array[Long](sds.length)
        var t = 0
        while (t < sds.length) {
          out(t) = hyperplaneSigLocal(arr, bits, sds(t))
          t += 1
        }
        out
      }
    })
    f(asDouble(vec))
  }

  def hyperplaneSig(vec: Column, nBits: Int, seed: Int): Column = {
    val bits = nBits
    val sd = seed
    val f = udf((v: Seq[Double]) => {
      // null vector → null signature (see hyperplaneSigs).
      if (v == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(hyperplaneSigLocal(v.toArray, bits, sd))
    })
    f(asDouble(vec))
  }

  /** The ONE signature kernel — every signature producer (the batched
    * and scalar UDFs above, and the serving tiers' driver-side probe
    * signatures) routes through this exact fold, so bit-parity across
    * plan and serving paths holds by construction rather than by test
    * alone (LshServingSpec still pins it end-to-end).
    */
  def hyperplaneSigLocal(arr: Array[Double], nBits: Int, seed: Int): Long = {
    val planes = HyperplaneCache.planes(nBits, seed, arr.length)
    var sig = 0L
    var p = 0
    while (p < nBits) {
      val pl = planes(p)
      var acc = 0.0
      var d = 0
      while (d < arr.length) { acc += arr(d) * pl(d); d += 1 }
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}
