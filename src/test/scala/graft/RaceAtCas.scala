package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.lake.{Lake, MetadataStore}
import graft.lake.Meta.CommitDelta

/** Test seam at the commit CAS: the first `commit` after [[raceOnce]] runs
  * `op` before its CAS. `op` is another writer's whole operation (it
  * commits through this store or any other on the same lake), so the
  * writer under test has built its delta against a state that is stale by
  * the time it claims the slot: its CAS loses, and its retry meets the
  * commit-time conflict rule. `op` may also throw, which fails the commit
  * before any slot is claimed (a crash at the CAS). Mix it into any store:
  * `new MetadataStore(root) with RaceAtCas`, or the JDBC one. */
trait RaceAtCas extends MetadataStore {
  @volatile private var racer: Option[() => Unit] = None

  def raceOnce(op: => Unit): Unit = racer = Some(() => op)

  override def commit(delta: CommitDelta): Unit = {
    val r = racer
    racer = None
    r.foreach(_())
    super.commit(delta)
  }
}

object RaceAtCas {
  /** a fresh lake over a racing store (the file log unless `store` says) */
  def lake(spark: SparkSession, store: String => MetadataStore with RaceAtCas =
      new MetadataStore(_) with RaceAtCas): (Lake, RaceAtCas) = {
    val root = Files.createTempDirectory("graft_race").toString
    val cas = store(root)
    (new Lake(spark, root, Some(cas)), cas)
  }
}
