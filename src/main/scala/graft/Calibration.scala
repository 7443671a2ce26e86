package graft

import org.apache.spark.sql.SparkSession

/** Host-calibration anchor for cross-round bench comparability.
  *
  * Bench walls from different rounds run on different (shared,
  * variably-loaded) hosts: round 11 ran unchanged code 2.5-3x
  * slower than round 10 (HISTORY.md, "Host anchors"), so absolute
  * cross-round walls carry an unknown host factor. This anchor is
  * that factor, measured: a fixed pure-compute kernel (a
  * splitmix-style integer
  * mixer — no I/O, no allocation, no branches, deterministic result)
  * timed (a) single-threaded on the driver and (b) as one identical
  * task per core through Spark. Dividing two rounds' per-query walls
  * by their anchor ratio normalizes out host speed; mt_sec well above
  * t1_sec flags a host that was CONTENDED (oversubscribed cores)
  * rather than merely slower.
  */
object Calibration {

  val Iters: Long = 400000000L

  /** The fixed kernel: `iters` rounds of a 64-bit LCG + xor-shift
    * mix. The running value feeds the next round, so the loop cannot
    * be vectorized away, and the returned value is asserted against a
    * constant — a short-circuited or miscompiled loop can't pass.
    */
  def mix(seed: Long, iters: Long): Long = {
    var x = seed
    var i = 0L
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    x
  }

  /** Expected mix(1, Iters), computed ONCE offline and hard-coded as a
    * literal — so a changed kernel or iteration count actually trips
    * the require below (a runtime-derived value could never disagree
    * with itself).
    */
  private val Expected: Long = -2650096840644895936L

  /** Run the anchor; returns a JSON object string
    * `{"iters":…,"cpus":…,"t1_sec":…,"mt_sec":…}`. Each leg is
    * min-of-2 (same steady-state methodology as the bench proper).
    */
  def measure(spark: SparkSession, cpus: Int): String = {
    def fmt(v: Double) = f"$v%.3f"
    def timed(body: => Long): Double = {
      val t0 = System.nanoTime()
      val r = body
      require(r != 0L, "anchor kernel returned 0") // consume the value
      (System.nanoTime() - t0) / 1e9
    }
    require(mix(1L, Iters) == Expected)
    def t1Leg(): Double = timed(mix(1L, Iters))
    // one identical task per core: wall = slowest core, so on an idle
    // host mt ≈ t1 and the gap above that is contention
    def mtLeg(): Double = timed {
      import spark.implicits._
      spark.range(cpus).as[Long].repartition(cpus)
        .mapPartitions(it => it.map(s => mix(s + 1, Iters)))
        .reduce(_ ^ _)
    }
    // SHUFFLE anchor (the r13 two-baseline finding: a mid-range host
    // ran shuffle-heavy legs +15 % vs compute-normalized expectation
    // — one compute anchor cannot normalize both classes): a fixed
    // pure-shuffle scenario — 4M rows hashed to 1M keys, one forced
    // exchange + hash aggregation, no I/O — whose result is asserted
    // (Σ id = n(n−1)/2), so a short-circuited plan can't pass.
    // Shuffle-classified queries normalize by THIS ratio,
    // compute-classified ones by t1.
    // 8M rows and min-of-THREE: two same-code r14 runs measured the
    // 4M/min-of-2 spelling swinging ±15 % (0.527 vs 0.450 s) while t1
    // held to 0.3 % — a shuffle leg short enough to fit inside one
    // contention spike samples the spike, not the host. The bigger
    // leg + third rep trades ~4 s of bench wall for an anchor whose
    // own sampling error no longer dominates the drift it corrects.
    def shLeg(): Double = timed {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val n = 8000000L
      val got = spark.range(n)
        .select(pmod(org.apache.spark.sql.functions.col("id") * 2654435761L,
          lit(1048576L)).as("k"), org.apache.spark.sql.functions.col("id").as("v"))
        .repartition(org.apache.spark.sql.functions.col("k"))
        .groupBy("k").agg(sum("v").as("s"))
        .agg(sum("s")).as[Long].head()
      require(got == n * (n - 1) / 2, s"shuffle anchor result wrong: $got")
      got
    }
    val t1 = math.min(t1Leg(), t1Leg())
    val mt = math.min(mtLeg(), mtLeg())
    val sh = Seq(shLeg(), shLeg(), shLeg()).min
    s"""{"iters":$Iters,"cpus":$cpus,"t1_sec":${fmt(t1)},"mt_sec":${fmt(mt)},""" +
      s""""sh_sec":${fmt(sh)}}"""
  }
}
