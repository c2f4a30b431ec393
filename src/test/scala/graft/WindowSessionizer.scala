package graft

import graft.operators.Etl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-scope reference sessionizer: the window form the DuckDB oracles
  * spell — lag → new-session flag → running sum over `PARTITION BY user_id
  * ORDER BY ts, event_id`. The engine runs only the native SessionizeExec;
  * its equality tests compare against this independent form. Appends
  * `session_id`; `entity` names a column whose null-safe change also
  * starts a session.
  */
object WindowSessionizer {
  def apply(ev: DataFrame, gapMinutes: Int = Etl.SessionGapMinutes,
      entity: Option[String] = None): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val prev = lag(col("ts"), 1).over(w)
    val gap = prev.isNull || col("ts") > prev + expr(s"INTERVAL $gapMinutes MINUTES")
    val split = entity.fold(gap)(e => gap || !(col(e) <=> lag(col(e), 1).over(w)))
    ev.withColumn("__new_sess", when(split, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_sess")
  }
}
