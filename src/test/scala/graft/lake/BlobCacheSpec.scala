package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class BlobCacheSpec extends AnyFunSuite {

  test("size stays within the cap after cap + 1 distinct keys") {
    val cap = 8
    val c = new BlobCache[String, Int](cap)
    (0 to cap).foreach(i => assert(c.get(s"k$i")(i) == i))
    assert(c.size <= cap, s"size ${c.size} over cap $cap")
    c.put("extra", -1)
    assert(c.size <= cap)
  }

  test("concurrent gets on one key run the load once") {
    val c = new BlobCache[String, Int](16)
    val loads = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        c.get("k") { loads.incrementAndGet(); Thread.sleep(50); 42 }
      }))
      start.countDown()
      assert(futures.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(42))
      assert(loads.get == 1)
    } finally pool.shutdownNow()
  }

  test("a load that throws caches nothing") {
    val c = new BlobCache[String, Int](16)
    intercept[IllegalStateException](c.get("k")(throw new IllegalStateException("io")))
    assert(c.size == 0)
    var loaded = false
    assert(c.get("k") { loaded = true; 7 } == 7)
    assert(loaded, "the next get must load again")
  }

  test("a load may read through a different instance") {
    val outer = new BlobCache[String, String](16)
    val inner = new BlobCache[String, Int](16)
    assert(outer.get("doc")(s"n=${inner.get("list")(3)}") == "n=3")
    assert(inner.get("list")(fail("inner value must be cached")) == 3)
  }

  test("BlobCache is the only cache with an eviction rule in src/main") {
    val allowed = Set("BlobCache.scala")
    val patterns = Seq(
      "removeEldestEntry".r,
      // a hand-rolled clear-at-cap eviction: if (x.size > N) x.clear()
      """if\s*\(\s*[\w.]+\.size(\(\))?\s*>=?\s*[\w.]+\s*\)\s*[\w.]+\.clear\(\)""".r)
    val sources = {
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "BlobCache.scala"),
      s"scan found no sources under ${Paths.get("").toAbsolutePath}")
    val offenders = for {
      p <- sources if !allowed(p.getFileName.toString)
      text = Files.readString(p)
      r <- patterns if r.findFirstIn(text).isDefined
    } yield s"$p (${r.findFirstIn(text).get})"
    assert(offenders.isEmpty,
      s"caches must be BlobCache instances, found a hand-rolled one in: ${offenders.mkString(", ")}")
  }
}
