package graft.img

import scala.reflect.ClassTag

/** Per-thread plane buffers for the kernel hot path. A page needs
  * several planes of a few hundred KB each; taking them from here instead
  * of allocating them per page spares the JVM's zeroing of every new
  * array and keeps them out of the young generation.
  *
  * Two kinds of buffer:
  *  - exact-size planes (`bytes`/`bools`/`ints`), keyed by (site, length)
  *    so each call site reuses one buffer per thread and page size; page
  *    geometries are fixed per crop config, so the pool stays bounded;
  *  - growable int scratch (`intScratch`), keyed by site alone and sized
  *    by the largest request seen on the thread, so a site whose sizes
  *    vary (the labeler's runs, deskew's ink points) keeps one buffer.
  *
  * Contract: a buffer obtained here is valid until the same key is
  * requested again on the same thread — callers must fully overwrite it
  * (or clear it) before use.
  */
object PlanePool {
  private val tl = new ThreadLocal[java.util.HashMap[String, AnyRef]] {
    override def initialValue() = new java.util.HashMap[String, AnyRef]
  }

  private def plane[A: ClassTag](key: String, len: Int): Array[A] =
    tl.get.computeIfAbsent(key + ":" + len, _ => new Array[A](len))
      .asInstanceOf[Array[A]]

  def bytes(key: String, len: Int): Array[Byte] = plane[Byte](key, len)
  def bools(key: String, len: Int): Array[Boolean] = plane[Boolean](key, len)
  def ints(key: String, len: Int): Array[Int] = plane[Int](key, len)

  /** A growable int scratch array of at least `minLen` ints. Contents are
    * NOT cleared, and a grown array does not copy the old one: a caller
    * that grows scratch it is still filling copies what it keeps. */
  def intScratch(key: String, minLen: Int): Array[Int] = {
    val m = tl.get
    m.get(key) match {
      case a: Array[Int] if a.length >= minLen => a
      case old: Array[Int] =>
        val a = new Array[Int](math.max(minLen, old.length * 2))
        m.put(key, a); a
      case _ =>
        val a = new Array[Int](math.max(minLen, 1 << 14)); m.put(key, a); a
    }
  }
}
