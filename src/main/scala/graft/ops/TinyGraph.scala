package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Bounded-relation collect for DIMENSION-KEYED iteration state.
  *
  * Decision rule (r16): an iterative graph algorithm belongs on the
  * driver exactly when its vertex set is bounded by a DIMENSION table's
  * key domain — the nation-level trade graph is ≤ |nation| = 25 vertices
  * and ≤ |nation|² = 625 edges BY SCHEMA, at sf0.001 and at 100 TB alike.
  * Iterating that state distributedly costs ~4–8 scheduler rounds PER
  * HOP (join + agg + checkpoint + convergence action), tens of jobs for
  * microseconds of arithmetic; the guide's driver rule ("the driver
  * should do almost no data work", §5) cuts the other way here — a
  * 625-row relation is not data work, the scheduler rounds are. The
  * heavy part (the 4-way fact-table rollup that PRODUCES the edge
  * relation) stays distributed; only the fixed-size iteration state
  * crosses to the driver — the same documented bounded-collect class as
  * the cell layout's ≤ MaxCells per-cell counts (CellLayout).
  *
  * DATA-sized graphs (documents, users) keep the distributed loop:
  * Dedup.connectedComponents and the q160-family shape remain the
  * template when the vertex count scales with the corpus.
  *
  * The cap is a fail-fast contract, not a truncation: exceeding it
  * raises (it means the relation was NOT dimension-bounded and the
  * driver iteration is the wrong plan), it never silently drops rows.
  */
object TinyGraph {

  /** Default cap: generous for |nation|²-bounded relations, far below
    * anything data-sized.
    */
  val MaxRows = 65536

  def collectBounded(df: DataFrame, what: String, max: Int = MaxRows): Array[Row] = {
    val rows = df.limit(max + 1).collect()
    require(rows.length <= max,
      s"$what: bounded-relation collect exceeded $max rows — relation is " +
        "not dimension-bounded; keep the distributed iteration instead")
    rows
  }
}
