package graft.plans

/** Morton (Z-order) curve key for two dimensions — the data-CLUSTERING
  * primitive: sort/range-partition a table by the interleaved key and
  * parquet min/max footer stats become selective on BOTH dimensions at
  * once, so scans filtered on either column (or a rectangle in both)
  * skip most row groups. A single-column sort gives perfect skipping on
  * one dimension and none on the other; the Z-curve trades a constant
  * factor on each for locality on all — the standard layout choice for
  * multi-dimensional range workloads at 100 TB (see
  * `Sources.writeZOrdered`, ZOrderSpec for the measured file-skip
  * counts).
  *
  * Bit-spreading uses the classic magic-mask doubling technique
  * (public-domain "Interleave bits by Binary Magic Numbers" — Stanford
  * Bit Twiddling Hacks); values are taken modulo 2^32 (callers
  * pre-normalize wider domains by ranking/bucketing first).
  */
object GraftZOrder {

  /** Spread the lower 32 bits of x into the even bit positions. */
  def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** `graft_zorder(a bigint, b bigint) -> bigint` — Morton key: bits
    * of a on even positions, bits of b on odd. */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)
}
