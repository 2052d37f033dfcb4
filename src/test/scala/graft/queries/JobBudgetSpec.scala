package graft.queries

import graft.SparkSpec
import graft.core.TableStats

/** Spark jobs per operator: each query built and written once (a noop
  * write, as Bench times a sample) at sf0.001 with the fixture
  * analyzed, as every tool session plans it. A higher count means a
  * checkpoint went eager, a count went to two jobs, or a plan gained an
  * exchange. */
class JobBudgetSpec extends SparkSpec {
  private def jobsToRun(name: String): Int = jobsOf {
    graft.SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()
  }

  test("job budget: the k-means family") {
    TableStats.analyze(spark, sf)
    val budget = Map("x_ann_ivf_kmeans" -> 22, "x_ann_pq_kmeans" -> 20,
      "x_semdedup" -> 23, "x_semdedup_incremental" -> 25)
    val got = budget.keys.map(name => name -> jobsToRun(name)).toMap
    assert(got === budget)
  }

  test("job budget: the near-dup family") {
    TableStats.analyze(spark, sf)
    val budget = Map("x_ngram_jaccard_pairs" -> 9,
      "x_containment_pairs" -> 9, "x_containment_recall" -> 19,
      "x_embed_neardup" -> 8, "x_embed_neardup_prod" -> 6,
      "x_triangle_count" -> 18)
    val got = budget.keys.map(name => name -> jobsToRun(name)).toMap
    assert(got === budget)
  }
}
