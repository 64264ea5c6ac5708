package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Schemas.ChangeEvent

/** Per-(day, pk) last-write-wins consolidation (C5,
  * `Parquet Export/consolidate.cpp:56-109`).
  *
  * The reference buckets events into three maps (`inserts_by_day`,
  * `updates_by_day`, `deleted_by_day`), later events overwriting earlier
  * ones; D erases the pk from the I/U maps and records a delete
  * (`consolidate.cpp:69-74`); a U whose pk is already in the insert map
  * folds into it (`consolidate.cpp:99-107`). The maps are then applied in
  * order delete -> update-if-exists -> insert-upsert
  * (`consolidate.cpp:184-214`).
  *
  * The net effect per (day, pk) reduces to a closed form over the event
  * sequence (day = `substring(date_time, 1, 10)`, `consolidate.cpp:66`):
  *
  *  - let `dseq`/`iseq` = max sequence number of any D / I event
  *  - if an I exists after the last D (`iseq > dseq`): net INSERT, with
  *    the row image of the LAST non-D event (U-after-I folds in)
  *  - else if any D exists: net DELETE (a U after the last D is applied
  *    "only-if-exists" against a map the D just erased from -> dropped)
  *  - else: net UPDATE-only-if-exists with the last U's row image
  *
  * One hash-partitioned aggregation, partial-aggregate friendly: at scale
  * this is a single shuffle keyed by (day, pk) with map-side combine —
  * no windows, no sorts.
  */
object Consolidate {

  /** Consolidate a batch of events into net changes, one row per
    * (day, id): (day, id, op, date_time, value, ts), where op is "I"
    * (upsert), "U" (update-if-exists) or "D" (delete). */
  def netChanges(events: Dataset[ChangeEvent]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    events
      .withColumn("day", substring($"dateTime", 1, 10))
      .groupBy($"day", $"pk".as("id"))
      .agg(
        coalesce(max(when($"op" === "D", $"seq")), lit(-1L)).as("dseq"),
        coalesce(max(when($"op" === "I", $"seq")), lit(-1L)).as("iseq"),
        // Row image of the last non-D event; null ordering keys are
        // ignored by max_by, so D rows never contribute an image.
        max_by(
          struct($"dateTime".as("date_time"), $"value", $"ts"),
          when($"op" =!= "D", $"seq")).as("last_iu"))
      .select(
        $"day", $"id",
        when($"iseq" > $"dseq", lit("I"))
          .when($"dseq" >= 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        $"last_iu.date_time".as("date_time"),
        $"last_iu.value".as("value"),
        $"last_iu.ts".as("ts"))
  }
}
