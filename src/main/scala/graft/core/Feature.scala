package graft.core

/** A spatial feature: a polyline of cell-id vertices (n=1 = point) plus
  * an unsigned metadata value — the engine's fundamental abstraction
  * (reference data model: encode.c:31-185). `cell` duplicates
  * vertices(0) as a top-level column so sorting/pruning sees a plain
  * Long. */
case class Feature(cell: Long, vertices: Array[Long], meta: Long)
