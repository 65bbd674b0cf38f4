package graft

/** Golden-value fingerprint of a Double array: a hash over every element's
  * bits, plus two sums that bound drift where a value may move by rounding
  * (the L1 norm and a fixed-weight projection). */
final case class Fingerprint(hash: Long, l1: Double, proj: Double) {
  /** Bit-equal when `relTol` is 0; otherwise both sums agree to within
    * `relTol` of the expected L1 norm. */
  def matches(expected: Fingerprint, relTol: Double): Boolean =
    if (relTol == 0) this == expected
    else math.abs(l1 - expected.l1) <= relTol * expected.l1 &&
      math.abs(proj - expected.proj) <= relTol * expected.l1
  override def toString: String = s"Fingerprint(${hash}L, $l1, $proj)"
}

object Fingerprint {
  def of(a: Array[Double]): Fingerprint = {
    var h = 17L; var l1 = 0.0; var proj = 0.0
    for (i <- a.indices) {
      h = h * 31 + java.lang.Double.doubleToLongBits(a(i))
      l1 += math.abs(a(i))
      proj += a(i) * (1 + i % 7)
    }
    Fingerprint(h, l1, proj)
  }
}
