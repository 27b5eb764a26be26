package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingle keys, shared by the native MinHash signature and
  * the native n-gram Jaccard: one place hashes a shingle, so both kernels
  * see the same key set as the relational formulation
  * (`split(text, ' ')`, `xxhash64(slice(w, i+1, n))`).
  *
  * Words are `UTF8String.split(" ", -1)`: empty words from leading,
  * trailing or doubled spaces count. A shingle's key is
  * `XXH64.hashUnsafeBytes` folded over its n words from seed 42.
  */
object Shingles {

  private val Space = UTF8String.fromString(" ")

  /** The words of `text`, as `split(text, ' ')` yields them. */
  def words(text: UTF8String): Array[UTF8String] = text.split(Space, -1)

  /** Key of the `n`-word shingle starting at word `i`. */
  def shingleKey(w: Array[UTF8String], i: Int, n: Int): Long = {
    var h = 42L
    var j = i
    while (j < i + n) {
      val s = w(j)
      h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
      j += 1
    }
    h
  }

  /** Sorted, distinct keys of the text's `n`-word shingles, or null when
    * it has fewer than `n` words. */
  def shingleKeys(text: UTF8String, n: Int): Array[Long] = {
    val w = words(text)
    val m = w.length - n + 1
    if (m <= 0) return null
    val k = new Array[Long](m)
    var i = 0
    while (i < m) { k(i) = shingleKey(w, i, n); i += 1 }
    java.util.Arrays.sort(k)
    var d = 1
    i = 1
    while (i < m) {
      if (k(i) != k(d - 1)) { k(d) = k(i); d += 1 }
      i += 1
    }
    if (d == m) k else java.util.Arrays.copyOf(k, d)
  }
}
