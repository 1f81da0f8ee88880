package graft.operators

/** The round contract of a convergent loop (connected components, BFS,
  * Borůvka): run rounds until one changes nothing, within a budget that
  * is derived from the data, and throw past it.
  *
  * The budget starts at a compile-time `base` that covers the common
  * graph with zero extra driver actions. A loop still changing when the
  * base is exhausted evaluates `bound` ONCE — the caller's mathematical
  * round bound for its data (usually one count) — and the budget extends
  * to `max(base, bound)`; only a genuinely deep graph pays that action.
  * Past the extended budget the loop throws: reaching a bound that is
  * mathematically sufficient marks a broken invariant, and a partial
  * fixed point (silently split components, a truncated reach profile)
  * must never be returned. The final round that observes 0 changes
  * counts toward the budget like any other.
  *
  * The round body, its per-round materialization and its fused change
  * count all stay with the caller; this object only owns the counting.
  */
object Fixpoint {

  /** Calls `round(0)`, `round(1)`, … until one returns 0 changes and
    * returns the number of rounds run.
    *
    * @param what        names the loop in the exhaustion message
    * @param base        budget before the one-time extension to `bound`
    * @param roundBudget `> 0` pins a FINAL budget with no extension (the
    *                    test seam for the throw); `≤ 0` uses the
    *                    base-then-bound contract
    * @param bound       the data-derived round bound, evaluated at most
    *                    once and only when the base is exhausted; clamped
    *                    to `Int.MaxValue`
    * @param round       runs round `i` and returns its change count
    */
  def run(what: String, base: Int, roundBudget: Int)(bound: => Long)(round: Int => Long): Int = {
    var budget = if (roundBudget > 0) roundBudget else base
    var extendable = roundBudget <= 0
    var i = 0
    var changed = 1L
    while (changed != 0L) {
      if (i >= budget && extendable) {
        extendable = false
        budget = math.max(budget.toLong, math.min(bound, Int.MaxValue.toLong)).toInt
      }
      if (i >= budget)
        throw new IllegalStateException(s"$what did not reach a fixed point in $budget rounds")
      changed = round(i)
      i += 1
    }
    i
  }

  /** ⌈log₂ n⌉ for n ≥ 1 (0 for n ≤ 1). */
  def ceilLog2(n: Long): Int =
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
}
