package graft

import java.nio.charset.StandardCharsets.UTF_8

/** One packed serving partition of a doc-partitioned index — the row type
  * of the handle's cached serving layout ([[QueryEngine.openIndex]]); the
  * reference's in-RAM `posting_lists_[list_no]` table, read only at the
  * lists a query routes to (`src/index_ivfpq.cpp:326-348` LoadIndex).
  *
  * A partition's rows are ONE byte buffer plus a sorted directory, so the
  * form a task deserializes from the cache is a few flat arrays (not one
  * object per posting row), and a batch decodes only the rows of its own
  * terms:
  *
  *  - `keys`/`offsets`: the posting rows' `String.hashCode` term keys,
  *    ascending, and each row's byte offset in `data`. A key may repeat (one
  *    term in several buckets, or a hash collision); the stored term is
  *    compared on every lookup, so a collision costs a compare, never a
  *    wrong row.
  *  - `filterOffsets`: the attribute sidecar's virtual filter lists
  *    ([[Attrs]]), which a filtered batch scans whole (an IN list and a
  *    BETWEEN range both select by [[QueryEngine.Plan.isRequestedFilter]]).
  *  - `data`: the rows, each a run of VByte fields
  *    {{{
  *    termLen, termLen bytes of UTF-8 term,
  *    part_id, bucket, n, cf, min_doc, nBlocks,
  *    nBlocks × (max_doc, n, max_tf, min_dl, codec, len, len bytes)
  *    }}}
  *    where the block bytes are the segment's compressed bytes as they are.
  */
final case class ServingPart(keys: Array[Int], offsets: Array[Int],
                             filterOffsets: Array[Int], data: Array[Byte]) {
  import ServingPart._

  /** The rows of `terms` and the filter lists `wantFilter` accepts (pass
    * `_ => false` for an unfiltered batch: the filter lists are then not
    * read at all), decoded in full. */
  def lookup(terms: Iterable[String], wantFilter: String => Boolean): Iterator[PostingRow] = {
    val r = new Codec.Reader(data)
    val out = Iterator.newBuilder[PostingRow]
    terms.foreach { t =>
      val tb = t.getBytes(UTF_8)
      val h = t.hashCode
      var i = lowerBound(keys, h)
      while (i < keys.length && keys(i) == h) {
        r.pos = offsets(i)
        val len = r.readVLong().toInt
        if (len == tb.length &&
            java.util.Arrays.equals(data, r.pos, r.pos + len, tb, 0, len)) {
          r.pos = offsets(i)
          out += readRow(r)
        }
        i += 1
      }
    }
    filterOffsets.foreach { off =>
      r.pos = off
      val len = r.readVLong().toInt
      if (wantFilter(new String(data, r.pos, len, UTF_8))) {
        r.pos = off
        out += readRow(r)
      }
    }
    out.result()
  }
}

object ServingPart {

  /** Byte budget of one packed part. A partition whose rows exceed it
    * packs into several parts (a JVM array holds < 2 GiB); lookups run
    * over all parts of a partition, so a bucket split across parts still
    * reaches the scorer whole. */
  val MaxPartBytes: Int = 1 << 28

  /** Pack one partition's rows (postings and filter lists, any order)
    * into as few parts as `maxBytes` allows. */
  def pack(rows: Iterator[PostingRow], maxBytes: Int = MaxPartBytes): Iterator[ServingPart] = {
    val parts = Iterator.newBuilder[ServingPart]
    val group = scala.collection.mutable.ArrayBuffer.empty[PostingRow]
    var bytes = 0L
    rows.foreach { r =>
      // upper bound of the row's encoded size (≤ 10 bytes per VByte field)
      val sz = 70L + 3L * r.term.length + r.blocks.iterator.map(70L + _.bytes.length).sum
      if (group.nonEmpty && bytes + sz > maxBytes) {
        parts += packGroup(group.toSeq); group.clear(); bytes = 0L
      }
      group += r; bytes += sz
    }
    if (group.nonEmpty) parts += packGroup(group.toSeq)
    parts.result()
  }

  private def packGroup(rows: Seq[PostingRow]): ServingPart = {
    val (filters, postings) = rows.partition(r => Attrs.isFilterTerm(r.term))
    val sorted = postings.sortBy(_.term.hashCode)
    val out = new Codec.ByteSink(1 << 16)
    def write(r: PostingRow): Int = {
      val off = out.size
      val tb = r.term.getBytes(UTF_8)
      Codec.putVLong(out, tb.length); out.addAll(tb)
      Seq(r.part_id.toLong, r.bucket.toLong, r.n, r.cf, r.min_doc, r.blocks.size.toLong)
        .foreach(Codec.putVLong(out, _))
      r.blocks.foreach { b =>
        Seq(b.max_doc, b.n.toLong, b.max_tf.toLong, b.min_dl.toLong, b.codec.toLong,
          b.bytes.length.toLong).foreach(Codec.putVLong(out, _))
        out.addAll(b.bytes)
      }
      off
    }
    val offsets = sorted.map(write).toArray
    val filterOffsets = filters.map(write).toArray
    ServingPart(sorted.map(_.term.hashCode).toArray, offsets, filterOffsets, out.toArray)
  }

  /** First index whose key is ≥ `h`. */
  private def lowerBound(keys: Array[Int], h: Int): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < h) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Decode the row starting at `r.pos`. */
  private def readRow(r: Codec.Reader): PostingRow = {
    val data = r.bytes
    val termLen = r.readVLong().toInt
    val term = new String(data, r.pos, termLen, UTF_8)
    r.pos += termLen
    val partId = r.readVLong().toInt
    val bucket = r.readVLong().toInt
    val n = r.readVLong()
    val cf = r.readVLong()
    val minDoc = r.readVLong()
    val blocks = new Array[Block](r.readVLong().toInt)
    var i = 0
    while (i < blocks.length) {
      val maxDoc = r.readVLong()
      val bn = r.readVLong().toInt
      val maxTf = r.readVLong().toInt
      val minDl = r.readVLong().toInt
      val codec = r.readVLong().toInt
      val len = r.readVLong().toInt
      blocks(i) = Block(maxDoc, bn, maxTf, minDl,
        java.util.Arrays.copyOfRange(data, r.pos, r.pos + len), codec)
      r.pos += len
      i += 1
    }
    PostingRow(partId, term, bucket, n, cf, minDoc,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(blocks))
  }
}
