package graft.streaming

import org.apache.spark.sql.DataFrame

/** Driver-held state of a streaming twin: one frame, replaced whole
  * each micro-batch (the D-Streams model: each interval's state is
  * one recomputable dataset). Every single-frame store of
  * `graft.streaming` is this class with its own empty frame and view;
  * production swaps each frame into a transactional table instead.
  * `swap` takes a lineage-truncated (localCheckpointed) frame, so the
  * stored plan never grows with the number of batches. */
class FrameStore(initial: DataFrame, view: DataFrame => DataFrame = identity) {
  @volatile private var current: DataFrame = initial
  def read(): DataFrame = current
  /** The frame as a consumer reads it. */
  def readView(): DataFrame = view(current)
  def swap(next: DataFrame): Unit = { current = next }
}
