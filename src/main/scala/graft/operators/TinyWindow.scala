package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** A DELIBERATE single-partition window over a provably tiny frame.
  *
  * `Window.orderBy(...)` with no partitioning coalesces the input to one
  * partition — which is exactly right when the frame is bounded by
  * construction (a post-aggregate of ≤ a few hundred groups, a post-LIMIT
  * slice, GlobalRank's ≤ numShufflePartitions offsets table) and a silent
  * scale-killer everywhere else. The two cases are indistinguishable in
  * the plan, and WindowExec warns ("No Partition Defined ... serious
  * performance degradation") on every execution of the legitimate ones,
  * drowning the one warning that would matter.
  *
  * Partitioning by a constant is semantically identical (every row lands
  * in the same partition; ranks/frames unchanged) but (a) declares in the
  * code AND the physical plan that the single partition is intentional,
  * and (b) leaves WindowExec's warning meaning what it should: an
  * UNAUDITED global window. The key must be constant-VALUED yet not
  * constant-FOLDABLE: Spark 4's EliminateWindowPartitions strips foldable
  * partition keys right back to the empty (warning) spec — the window
  * check in RegistryAuditSpec proved `lit(0)` is erased — so the key is
  * `pmod(hash(anchor), 1)`: always 0 (hash never yields null),
  * referencing a real column so no optimizer rule can fold it away.
  *
  * Repo rule (enforced mechanically by RegistryAuditSpec over the whole
  * registry): bare `Window.orderBy(...)` / `Window.partitionBy()` is
  * banned in main — every global window either goes through GlobalRank
  * (unbounded frames) or names this helper (bounded-by-construction
  * frames), and the call site says WHY the frame is tiny.
  */
object TinyWindow {

  private def constKey(anchor: Column): Column = pmod(hash(anchor), lit(1))

  /** Total-order spec over a frame the CALLER asserts is tiny by
    * construction — say why at the call site. `anchor` is any plain input
    * column (NOT a desc()/asc() sort expression — it goes inside hash());
    * only its existence matters, every row keys to 0.
    */
  def total(anchor: Column)(order: Column*): WindowSpec = {
    require(order.nonEmpty, "TinyWindow.total needs at least one order column")
    Window.partitionBy(constKey(anchor)).orderBy(order: _*)
  }

  /** Whole-frame (unordered, unbounded) spec — the `sum(x) OVER ()` grand
    * total over a tiny frame. `anchor` is any real input column (only its
    * existence matters; every row keys to 0).
    */
  def whole(anchor: Column): WindowSpec =
    Window.partitionBy(constKey(anchor))
}
