package graft.index

/** Typed data model of the index (SURVEY.md §1.4, FIXTURES.md §3).
  * Everything is a case class → Product encoder → columnar parquet at rest,
  * typed rows in flight.
  */

/** The input_hint corpus shape (BASELINE.json:15). */
final case class CorpusDoc(repo: String, path: String, commit: String, lang: String, content: String)

/** Per-document metadata. `docId` is data-derived (dense rank over the
  * unique sort key (repo, path, commit)) — never partition-derived — so it
  * is identical at any parallelism level (SURVEY.md §7.4 item 1; the
  * reference's analog is the data-derived PagingToken,
  * es/paging_token.go:10-30).
  * `sha256` is the per-row ingest invariant (BASELINE.json:15).
  */
final case class DocMeta(docId: Long, repo: String, path: String, commit: String,
                         lang: String, dl: Int, sha256: String)

/** One (term, doc) occurrence with its in-doc frequency and the doc length.
  * `salt` is the docId-range bucket: hot-term skew handling — a single
  * Zipfian term's postings split across `S` contiguous docId ranges, so no
  * reducer ever owns a whole hot list (north rule / SURVEY.md §7.4 item 3).
  * `meta` packs (dl << 32 | tf) into ONE long: UnsafeRow pads every
  * fixed-width field to 8 bytes, so two int fields cost 16 shuffle bytes
  * per row where the packed long costs 8 — the postings shuffle is the
  * build's dominant exchange, and its row count is every distinct
  * (term, doc) pair in the corpus.
  */
final case class TermDoc(term: String, salt: Int, docId: Long, meta: Long) {
  @inline def tf: Int = (meta & 0xffffffffL).toInt
  @inline def dl: Int = (meta >>> 32).toInt
}

object TermDoc {
  /** Column expression building the packed meta from int tf/dl columns. */
  def packMeta(dl: org.apache.spark.sql.Column, tf: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.shiftleft(dl.cast("long"), 32)
      .bitwiseOR(tf.cast("long"))
}

/** One compressed posting block: ≤ Codec.BlockSize postings of one
  * (term, salt), docIds delta+varint encoded against `firstDocId`, tf and dl
  * as varint arrays. `maxImpact` = max over the block of the
  * length-normalized tf part of BM25 (see Bm25.impact) — the block-max
  * metadata WAND prunes with. Blocks carry absolute `firstDocId`, so
  * salted partials merge by concatenation, no re-encode.
  * Analog of Lucene's block postings + index-time sort the reference relies
  * on (es/indices.go:26-27 `sort.field: paging_token`).
  */
final case class PostingBlock(term: String, salt: Int, blockIdx: Int,
                              firstDocId: Long, lastDocId: Long, n: Int,
                              docDeltas: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
                              maxImpact: Double)

/** Global term statistics, broadcast at query time. */
final case class TermStat(term: String, df: Long, maxImpact: Double)

/** Corpus-level stats (broadcast). `avgdl` is the EXACT mean doc length
  * (what scoring uses); `buildAvgdl` is the avgdl the source's block
  * maxima were computed against — for a batch build a deterministic
  * sampled estimate (which lets the docmeta and postings stages run
  * CONCURRENTLY instead of serializing on exact stats), for a streamed
  * segment the avgdl passed at append time. Block-max WAND stays
  * admissible by multiplying stored bounds by max(1, avgdl/buildAvgdl)
  * (impact is monotone in avgdl — see Handle.liveStats).
  */
final case class IndexStats(n: Long, avgdl: Double, totalTokens: Long, buildAvgdl: Double)

/** Per-partition lineage row, written atomically with each stage's data —
  * the resume + reconciliation record (north rule; reference analogs:
  * commands/stats.go range reconciliation, db/ledger_header_row.go:111-126
  * gap window). `contentHash` is an order-independent XOR of per-row 64-bit
  * hashes, so it can be recomputed and compared regardless of row order.
  */
final case class LineageRow(stage: String, partitionId: Int,
                            docIdMin: Long, docIdMax: Long,
                            termCount: Long, rows: Long, bytes: Long, contentHash: Long)

/** One tombstoned docId (a Compactor.tombstone delete-set row). */
final case class TombstoneRow(docId: Long)

/** A scored search hit. */
final case class Hit(docId: Long, score: Double)

/** Positional postings row: one (term, doc) with its in-doc token positions
  * (0-based over the analyzer's token stream), delta+varint encoded. Built
  * as an OPTIONAL index stage (IndexBuilder.buildPositions) — phrase
  * queries verify adjacency against these instead of re-reading source
  * text.
  */
final case class PositionsRow(term: String, docId: Long, n: Int, posDeltas: Array[Byte])
