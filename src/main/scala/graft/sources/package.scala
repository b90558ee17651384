package graft

/** The per-layout scan names, kept for callers that cast a plan's scan
  * to a layout's scan: all three layouts share [[sources.LayoutScan]]. */
package object sources {
  private[graft] type PostingsScan = LayoutScan
  private[graft] type BandsScan = LayoutScan
  private[graft] type CellsScan = LayoutScan
}
