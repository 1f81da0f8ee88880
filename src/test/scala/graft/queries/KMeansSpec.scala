package graft.queries

import graft.SparkSuite

/** The shared Lloyd trainer behind the IVF and PQ index builds, on a
  * hand-built two-subspace frame whose means are exact in float.
  */
class KMeansSpec extends SparkSuite {

  test("trainCodebook: per-subspace Lloyd means; an emptied codeword is dropped") {
    import spark.implicits._
    // seeds are vec_ids 10..12 → codes 0..2 in id order. Subspace 0:
    // seeds 10 and 12 are the same point, so the (d, code) tiebreak gives
    // every member of that pair to code 0 and code 2 ends with none.
    // Subspace 1: three distinct seeds, two members each.
    val points = Seq(
      (13L, 0, Seq(1f, 0f)),
      (10L, 0, Seq(0f, 0f)),
      (11L, 0, Seq(10f, 0f)),
      (12L, 0, Seq(0f, 0f)),
      (14L, 0, Seq(9f, 0f)),
      (15L, 0, Seq(2f, 0f)),
      (10L, 1, Seq(0f, 4f)),
      (11L, 1, Seq(0f, 0f)),
      (12L, 1, Seq(4f, 0f)),
      (13L, 1, Seq(0f, 3f)),
      (14L, 1, Seq(1f, 0f)),
      (15L, 1, Seq(3f, 1f))).toDF("vec_id", "m", "sv")
    val cb = LlmOps.trainCodebook(spark, points, seedLo = 10, k = 3)
    // m = 0: {10, 12, 13, 15} → (0+0+1+2)/4 = 0.75, {11, 14} → 9.5;
    // m = 1: {10, 13} → (0, 3.5), {11, 14} → (0.5, 0), {12, 15} → (3.5, 0.5).
    // Round 2 keeps every member, so these are also the final means.
    assert(
      cb == Seq(
        (0, 0, Seq(0.75f, 0f)),
        (0, 1, Seq(9.5f, 0f)),
        (1, 0, Seq(0f, 3.5f)),
        (1, 1, Seq(0.5f, 0f)),
        (1, 2, Seq(3.5f, 0.5f))),
      cb)
  }
}
