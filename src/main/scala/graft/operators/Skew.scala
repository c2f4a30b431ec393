package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-join fallback (SURVEY.md §7.3.8). AQE's OptimizeSkewedJoin is the
  * first line of defense; this helper is the manual fallback for a build
  * side too large to broadcast but with a few hot probe keys. A skewed
  * AGGREGATION key needs no salting: map-side partial aggregation already
  * sends each reducer one partial per mapper (SCALING.md, "Zipfian key
  * skew at 60M rows").
  *
  * The probe side's hot keys are spread over `salt` sub-keys with a
  * DETERMINISTIC salt (hash of a tie-break column, never `rand()` — results
  * must not depend on task retries), and the build side is replicated
  * `salt` times, so the join key becomes (key, salt) and a hot key's rows
  * land on `salt` different reducers.
  */
object Skew {

  /** Helper column name guaranteed absent from every input (a hardcoded
    * `__salt` would silently collide with — and corrupt — an input that
    * already carries that name).
    */
  private def freshSaltCol(inputs: DataFrame*): String = {
    val taken = inputs.flatMap(_.columns).toSet
    Iterator.from(0).map(i => if (i == 0) "__salt" else s"__salt$i")
      .find(!taken.contains(_)).get
  }

  /** Equi-join `probe ⋈ build` on `key`, spreading each probe key over
    * `salt` partitions. `tieBreak` must be a deterministic probe column.
    */
  def saltedJoin(
      probe: DataFrame, build: DataFrame, key: String, tieBreak: Column,
      salt: Int): DataFrame = {
    val sc = freshSaltCol(probe, build)
    val p = probe.withColumn(sc, pmod(xxhash64(tieBreak), lit(salt)).cast("int"))
    val b = build.withColumn(sc,
      explode(sequence(lit(0), lit(salt - 1))))
    p.join(b, Seq(key, sc)).drop(sc)
  }
}
