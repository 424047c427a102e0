package graft.perfbench

import graft.pipeline.Extract

/** The page hash `Extract.extractPage` uses, which is package-private to
  * `graft`; the per-page replay times it through this forwarder. */
object Hash {
  def hexSha256(bytes: Array[Byte]): String = Extract.hexSha256(bytes)
}
