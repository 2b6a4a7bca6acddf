package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and the test suite run on. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC and no UI. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Constraint propagation re-derives isnotnull() constraints from
      // join keys and filters and substitutes the FULL defining
      // expression of derived columns into scan-stage filters — for
      // this engine's interpreted higher-order folds (MinHash/SimHash
      // signatures) that re-evaluates the whole hash pipeline per row.
      // No query here relies on inferred constraints (keys are never
      // null); turning it off keeps every fold single-evaluation.
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
