package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry, without Spark: one entry per key, and a static
  * oracle for every gate but the trained ones.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val trained = Set(
    "emb_recall_ivfpq_trained", "emb_recall_ivfpq_trained_m32",
    "emb_recall_ivfpq_trained_kc64", "emb_recall_ivfpq_pca",
    "emb_recall_ivfpq_kc_sqrtn", "emb_recall_ivfpq_refined",
    "sim_ann_ivf", "stream_kmeans", "emb_kmeans", "emb_pca")

  test("173 unique keys; only the 10 trained gates have no static oracle") {
    // loading SparkEntry builds the registry, which rejects a repeated key
    val gates = SparkEntry.gates
    assert(gates.size == 173)
    assert(gates.forall { case (k, g) => g.key == k })
    assert(gates.values.filter(_.oracle.isEmpty).map(_.key).toSet == trained)
    // the derived views agree with the registry
    assert(SparkEntry.queries.keySet == gates.keySet)
    assert(SparkEntry.oracleSql.keySet == gates.keySet -- trained)
  }

  test("registering a key twice fails instead of replacing the first gate") {
    val g = new Gate("q", (_, _) => fail("a gate must not run at registration"),
      Some("SELECT 1 AS one"))
    val r = new Gate("r", g.build, None)
    val e = intercept[IllegalArgumentException] {
      Gate.registry(g, r, new Gate("q", g.build, None))
    }
    assert(e.getMessage.contains("registered twice: q"))
    assert(Gate.registry(g, r).keys.toSeq == Seq("q", "r"))
  }
}
