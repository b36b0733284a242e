package graft.lake

import org.scalatest.funsuite.AnyFunSuite

/** The size-tiered compaction planner's bounds, simulated without Spark:
  * an append-only table gains one unit-size file per cycle and is
  * compacted after each append, every planned group becoming one file
  * whose size is the sum of its inputs.
  */
class CompactionPlanSpec extends AnyFunSuite {

  private val UnitSize = 1000L

  /** Runs `cycles` append+plan cycles; returns the bytes the planner
    * rewrote and checks every planned group on the way. */
  private def simulate(cycles: Int, cfg: LakeTable.CompactionConfig): Long = {
    var files = Vector.empty[FileAdd]
    var rewritten = 0L
    var next = 0
    def file(size: Long) = { next += 1; FileAdd(f"f$next%05d", 1, size) }
    for (v <- 1 to cycles) {
      files :+= file(UnitSize)
      val groups = LakeTable.planCompaction(
        Snapshot("t", v, None, files), cfg)
      groups.foreach { g =>
        val sizes = g.map(_.size)
        assert(g.size >= cfg.minFilesCount, s"cycle $v: group $sizes")
        assert(sizes.sum <= cfg.maxFileSize, s"cycle $v: group $sizes")
        // a file more than 2× the group's smallest is never merged into it
        assert(sizes.max <= 2 * sizes.min, s"cycle $v: group $sizes")
      }
      val merged = groups.flatten.map(_.path).toSet
      assert(merged.size == groups.map(_.size).sum, "a file in two groups")
      rewritten += groups.flatten.map(_.size).sum
      files = files.filterNot(f => merged.contains(f.path)) ++
        groups.map(g => file(g.map(_.size).sum))
    }
    rewritten
  }

  private def log2(n: Double) = math.log(n) / math.log(2)

  test("appends then compaction rewrite O(N log N) bytes, not O(N^2)") {
    val n = 200
    // every merge of ≥ 3 files within 2× of each other at least doubles
    // the file a byte lives in, so no byte is rewritten more than log2 N
    // times; bin-packing every small file rewrites the whole table every
    // few appends (≈ N²/4 units here)
    val rewritten = simulate(n, LakeTable.CompactionConfig())
    assert(rewritten <= UnitSize * n * log2(n),
      s"$rewritten bytes rewritten over $n appends")
    assert(rewritten > 0)
  }

  test("groups hold ≥ minFilesCount files and stay within maxFileSize") {
    val cfg = LakeTable.CompactionConfig(maxFileSize = 7 * UnitSize,
      minFilesCount = 2)
    val rewritten = simulate(200, cfg)
    assert(rewritten <= UnitSize * 200 * log2(200))
    val cfg4 = LakeTable.CompactionConfig(minFilesCount = 4)
    assert(simulate(200, cfg4) <= UnitSize * 200 * log2(200))
  }

  test("a file over 2× the small tier stays out of its group") {
    val small = (1 to 5).map(i => FileAdd(s"s$i", 1, 100 + i))
    val big = FileAdd("big", 1, 250)
    val groups = LakeTable.planCompaction(
      Snapshot("t", 1, None, small :+ big), LakeTable.CompactionConfig())
    assert(groups.map(_.map(_.path).toSet) == Seq(small.map(_.path).toSet))
    // a tier of its own needs minFilesCount files too
    val tiers = LakeTable.planCompaction(Snapshot("t", 1, None,
      small ++ (1 to 3).map(i => FileAdd(s"b$i", 1, 300 + i))),
      LakeTable.CompactionConfig())
    assert(tiers.map(_.map(_.path).toSet) == Seq(small.map(_.path).toSet,
      Set("b1", "b2", "b3")))
  }
}
