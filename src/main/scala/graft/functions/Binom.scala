package graft.functions

import org.apache.commons.math3.special.Beta

/** Binomial survival function (SURVEY.md A18): P[X ≥ k], X ~ Binom(n, p).
  *
  * Computed via the regularized incomplete beta I_p(k, n−k+1) rather than
  * summing pmfs — numerically stable for tiny p and huge n (n stays a Long;
  * no Int-bounded BinomialDistribution object), per SURVEY §7.3 #4.
  */
object Binom {
  /** P[X ≥ k] for X ~ Binomial(n, p). */
  def sf(k: Long, n: Long, p: Double): Double =
    if (k <= 0L) 1.0
    else if (k > n) 0.0
    else if (p <= 0.0) 0.0
    else if (p >= 1.0) 1.0
    else Beta.regularizedBeta(p, k.toDouble, (n - k + 1).toDouble)
}
