package graft.functions

/** Intersection CARDINALITY of two ascending-sorted long sets — the
  * verify kernel of the grid-cogroup near-dup join
  * ([[graft.operators.Dedup]]), which holds plain `Array[Long]`
  * signatures, not `ArrayData`.
  *
  * A fused two-pointer merge: zero allocation, no boxing, where
  * `size(array_intersect(ha, hb))` builds a boxed hash set over one side,
  * a seen-set over the other and the intersection array, only for `size`
  * to throw everything away.
  *
  * Contract: both inputs must be ascending-sorted SETS (distinct
  * elements), which is exactly what `array_sort(collect_set(...))`
  * produces — the only call shape in this repo. On multiset inputs the
  * merge counts matched element runs pairwise (equal values advance
  * both cursors), which is `size(array_intersect)` semantics only for
  * sets; unsorted inputs undercount, exactly like a merge join fed
  * unsorted runs. collect_set never emits nulls, so the primitive arrays
  * need no null guard.
  */
object SortedIntersectCount {

  def merge(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}
