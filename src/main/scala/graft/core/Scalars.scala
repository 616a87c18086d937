package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Null-safe reads for driver-side scalar aggregates.
  *
  * `SUM`/`MIN`/`MAX` over zero rows is SQL NULL, and `Row.getLong` on a
  * null cell throws — so every "corpus constant" derivation
  * (`df.agg(sum(...)).head()`) that parameterizes a plan is a crash on
  * an EMPTY input. At 100 TB an empty input is a normal state, not an
  * error: a new source with no documents yet, a day partition before
  * ingest, a language with no members. The contract (same one the
  * hillTail kEff guard set in round 12, and DegenSweep now enforces
  * catalog-wide) is: a query over an empty fixture returns a defined —
  * usually empty — frame with its normal schema, never an exception.
  *
  * These helpers read the aggregate row with an explicit identity
  * default; since the default is only ever USED when the input had no
  * rows (the only way the cell is null), the downstream plan it
  * parameterizes computes over zero rows and the default never reaches
  * an output value.
  */
object Scalars {
  def longAt(r: Row, i: Int, orElse: Long = 0L): Long =
    if (r.isNullAt(i)) orElse else r.getLong(i)

  def doubleAt(r: Row, i: Int, orElse: Double = 0.0): Double =
    if (r.isNullAt(i)) orElse else r.getDouble(i)

  /** First row of a possibly-empty frame (one-row fetch, no full scan). */
  def headOption(df: DataFrame): Option[Row] = df.head(1).headOption
}
