package graft

/** Contract of the session-scoped artifact memo. */
class SessionMemoSpec extends SparkSpec {

  test("builds once per key, rebuilds after invalidate, keys are independent") {
    val memo = new SessionMemo[Int]
    var builds = 0
    def build(v: Int): Int = { builds += 1; v }

    assert(memo.getOrBuild(spark, "a")(build(1)) === 1)
    assert(memo.getOrBuild(spark, "a")(build(99)) === 1) // cached, not rebuilt
    assert(builds === 1)
    assert(memo.getOrBuild(spark, "b")(build(2)) === 2)  // distinct key
    assert(builds === 2)
    memo.invalidate(spark, "a")
    assert(memo.getOrBuild(spark, "a")(build(3)) === 3)  // rebuilt after invalidate
    assert(builds === 3)
    assert(memo.getOrBuild(spark, "b")(build(99)) === 2) // other key untouched
    assert(builds === 3)
  }

  test("a newer stamp releases and rebuilds; invalidate releases") {
    val released = scala.collection.mutable.Buffer.empty[Int]
    val memo = new SessionMemo[Int](released += _)
    assert(memo.getOrBuild(spark, "a", 1L)(10) === 10)
    assert(memo.getOrBuild(spark, "a", 1L)(99) === 10) // same stamp: served
    assert(released.isEmpty)
    assert(memo.getOrBuild(spark, "a", 2L)(20) === 20) // newer stamp: rebuilt
    assert(released === Seq(10))
    assert(memo.invalidate(spark, "a"))
    assert(released === Seq(10, 20))
    assert(!memo.invalidate(spark, "a"))
    assert(released === Seq(10, 20))
  }

  test("concurrent callers for one key build exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val memo = new SessionMemo[Long]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = Await.result(Future.sequence((1 to 8).map { _ =>
      Future {
        memo.getOrBuild(spark, "k") {
          builds.incrementAndGet()
          Thread.sleep(50)
          42L
        }
      }
    }), 30.seconds)
    assert(results.forall(_ === 42L))
    assert(builds.get() === 1)
  }

  test("named registry invalidates artifacts per (session, key) across operators") {
    val m1 = SessionMemo.named[Int]("spec_artifact_a")
    val m2 = SessionMemo.named[Int]("spec_artifact_b")
    // idempotent: re-registering a name returns the same memo
    assert(SessionMemo.named[Int]("spec_artifact_a") eq m1)
    m1.getOrBuild(spark, "/d1")(1)
    m2.getOrBuild(spark, "/d1")(2)
    m1.getOrBuild(spark, "/d2")(3)
    // targeted: one name, one key
    assert(SessionMemo.invalidate(spark, "/d1", "spec_artifact_a"))
    assert(!SessionMemo.invalidate(spark, "/d1", "spec_artifact_a")) // already gone
    assert(!SessionMemo.invalidate(spark, "/d1", "no_such_artifact"))
    var rebuilt = false
    m1.getOrBuild(spark, "/d1") { rebuilt = true; 9 }
    assert(rebuilt)
    // sweep: every registered artifact for one key; other keys untouched
    val hit = SessionMemo.invalidateAll(spark, "/d1")
    assert(hit.contains("spec_artifact_a") && hit.contains("spec_artifact_b"))
    var d2rebuilt = false
    assert(m1.getOrBuild(spark, "/d2") { d2rebuilt = true; 0 } === 3)
    assert(!d2rebuilt)
    // the operator memos are registered under their query keys (touch
    // the objects first — registration happens at object init)
    locally { graft.queries.Dedup; graft.queries.Ann; graft.queries.GraphLoad }
    Seq("dd_cluster", "ann_ivf_centroids", "gl_poi_chain", "gl_undo_canonical")
      .foreach(n => assert(SessionMemo.names.contains(n), n))
  }
}
