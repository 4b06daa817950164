"""Engine facade — the library API (analog of docproc/facade.py:21-99).

The reference facade wraps one document; this one wraps a corpus table:

    eng = DocprocSpark.from_config_path("engine.yml")
    result = eng.extract_table(docs_df)          # doc_id, markdown, n_pages, spans
    eng.extract_to_files(docs_df, "/out/md")     # one .md per doc, PAGES prefix
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from docproc_spark.config import EngineConfig, parse_config


def _ingest_root(path: str) -> tuple[str, bool]:
    """(root prefix ending in '/', scheme_kept) for relative doc_ids.

    A glob root (`dir/*.pdf`, `dir/{a,b}/…`) anchors at the last
    separator before its first wildcard. A scheme'd root (s3a://bucket/
    data) is kept verbatim — os.path.abspath would fold `s3a://` into a
    local path like /cwd/s3a:/bucket — and compared against the raw URI
    in binaryFile's `path` column; a local root is absolutized."""
    base = path
    if any(c in path for c in "*?[{"):
        base = path.split("*", 1)[0].split("?", 1)[0]
        base = base.split("[", 1)[0].split("{", 1)[0]
        base = base[: base.rfind("/") + 1] or "."
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", base):
        return base.rstrip("/") + "/", True
    return os.path.abspath(base or ".").rstrip("/") + "/", False


class DocprocSpark:
    def __init__(self, spark: SparkSession | None = None, config: EngineConfig | None = None):
        self.config = config or EngineConfig()
        if spark is None:
            from docproc_spark.session import get_spark

            spark = get_spark(
                master=self.config.spark.master,
                shuffle_partitions=self.config.spark.shuffle_partitions,
                arrow_batch=self.config.spark.arrow_batch,
            )
        self.spark = spark

    @classmethod
    def from_config_path(cls, path: str, spark: SparkSession | None = None) -> "DocprocSpark":
        return cls(spark=spark, config=parse_config(path))

    @classmethod
    def from_env(cls, spark: SparkSession | None = None) -> "DocprocSpark":
        return cls(spark=spark, config=parse_config(None))

    # ------------------------------------------------------------------
    SUPPORTED_DOC_TYPES = frozenset(
        {
            "hello_docx", "multi_page_pdf", "empty_pages_pdf", "tables_docx",
            "slides_pptx", "sheets_xlsx", "dup_spans", "dirty_text",
            "interleaved_media", "repeated_logo", "rasterized_doc",
            "html_boiler", "unicode_math", "mega_doc",
            "pdf", "docx", "pptx", "xlsx", "xlsm", "html", "mixed",
        }
    )

    def split_supported(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Route unsupported doc types to a quarantine table instead of
        raising (the reference throws ValueError per file,
        factory.py:29-31 — a cluster job must never die on one row)."""
        from pyspark.sql import functions as F

        known = F.col("doc_type").isNull() | F.col("doc_type").isin(
            *self.SUPPORTED_DOC_TYPES
        )
        return docs.filter(known), docs.filter(~known)

    def extract_table(self, docs: DataFrame) -> DataFrame:
        """Span table in → (doc_id, markdown, n_pages, spans) out.

        With ``ingest.use_llm_refine`` on, the reference's optional refine
        stage (pipeline.py:124-141) runs after extraction: markdown is
        replaced by the chunk→chat→rejoin output of
        ``ingest.refine_provider`` (per-document failure falls back to the
        raw text). The extract result is staged lazily for the refine
        join: both join sides derive from it and DataFrame fan-out gets no
        common-subexpression reuse — unstaged, the full extraction
        pipeline would execute twice.
        The join exchange that remains is noise next to the LLM calls the
        stage exists to make."""
        from docproc_spark.materialize import stage
        from docproc_spark.pipeline import extract

        result = extract(
            docs,
            drop_kinds=self.config.drop_kinds,
            drop_exact_duplicates=self.config.ingest.drop_exact_duplicates,
        )
        if self.config.ingest.use_llm_refine:
            from docproc_spark.operators.refine import refine_table

            result = stage(result, eager=False)
            refined = refine_table(
                result, provider_id=self.config.ingest.refine_provider
            ).withColumnRenamed("refined", "markdown")
            result = result.drop("markdown").join(refined, "doc_id").select(
                "doc_id", "markdown", "n_pages", "spans"
            )
        return result

    def rag_chunks(self, docs: DataFrame) -> DataFrame:
        """The rag config block's indexing side: token-window chunking at
        ``rag.chunk_size`` (reference config/schema.py:72-80 default 512)
        with the conventional 1/8-window overlap — the consumer that makes
        `rag.chunk_size` a real knob rather than schema decoration."""
        from docproc_spark.operators.packing import chunk_documents

        cs = self.config.rag.chunk_size
        return chunk_documents(docs, chunk_tokens=cs, overlap_tokens=cs // 8)

    def rag_search(self, docs: DataFrame, query: str) -> DataFrame:
        """The rag config block's serving side: lexical BM25 retrieval at
        ``rag.top_k`` (reference default 5) over a document/chunk table."""
        from docproc_spark.operators.retrieval import bm25_topk

        return bm25_topk(docs, query, k=self.config.rag.top_k)

    def caption_media(
        self, media: DataFrame, ref_col: str = "media_ref", ctx_col: str = "context"
    ) -> DataFrame:
        """Provider-backed captioning over a media-reference table —
        where ``ingest.use_vision`` plugs in: off (default) uses the
        deterministic stub (the invariant path the extraction oracle is
        defined over); on routes to ``ingest.vision_provider`` (e.g. a
        batching-vision transport stack from providers_http)."""
        from docproc_spark.operators.captions import caption_media_table

        pid = (
            self.config.ingest.vision_provider
            if self.config.ingest.use_vision
            else "stub"
        )
        return caption_media_table(media, ref_col=ref_col, ctx_col=ctx_col,
                                   provider_id=pid)

    def extract_to_files(self, docs: DataFrame, out_dir: str) -> int:
        """Extract and write one .md per document with the reference's
        "<!-- PAGES: n -->" prefix (facade.py:92-96)."""
        from docproc_spark.sources.writers import export_markdown_files, with_pages_prefix

        result = with_pages_prefix(self.extract_table(docs))
        return export_markdown_files(result, out_dir)

    def extract_resumable(
        self, docs: DataFrame, out_path: str, lineage_path: str, n_parts: int = 8
    ):
        """Checkpointed extraction with per-partition lineage + resume."""
        from docproc_spark.sources.lineage import run_with_lineage

        return run_with_lineage(
            docs, out_path, lineage_path, self.extract_table, n_parts=n_parts
        )

    def load_files(self, path: str) -> DataFrame:
        """Directory of real .pdf/.docx/.pptx/.xlsx/.html files → one
        document table (the reference CLI's file-in entry, distributed:
        binaryFile scan, one mapInPandas parse per format branch, union by
        name). Binary formats emit pre-parsed ``spans``; HTML emits the
        charset-sniffed markup in ``raw_html`` (boilerplate stripping
        happens once, in the extraction pipeline's density kernel — same
        path as synthetic html_boiler docs). Rows that fail to parse carry
        parse_error (quarantine column); feed the rest to extract_table /
        extract_resumable.

        Each format family gets its OWN binaryFile read with its own
        pathGlobFilter: a shared read filtered post-hoc on a derived fmt
        column cannot push the predicate into the scan, and DataFrame
        fan-out gets no common-subexpression reuse — both branches would
        read EVERY file's full bytes (2× IO on the whole directory).
        Globs are per-character case classes: Hadoop glob matching is
        case-sensitive and an uppercase SCAN.PDF would otherwise vanish
        without even a quarantine row."""
        from docproc_spark.sources.epub import load_epub
        from docproc_spark.sources.html import load_html
        from docproc_spark.sources.ooxml import load_ooxml
        from docproc_spark.sources.pdf import load_pdf

        pdfs = load_pdf(self._binary_files(path, ("pdf",)))
        office = load_ooxml(
            self._binary_files(path, ("docx", "pptx", "xlsx", "xlsm"))
        )
        books = load_epub(self._binary_files(path, ("epub",)).drop("fmt"))
        html = load_html(
            self._binary_files(path, ("html", "htm")).drop("fmt")
        )
        return pdfs.unionByName(office).unionByName(books).unionByName(html)

    def ingest_files_with_media(
        self, path: str, table_path: str
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """``ingest_files`` that also catalogues embedded media — in the
        SAME single pass over the raw bytes (the span parsers' media_facts
        sink fills while they walk), where ``media_sidecar`` alone would
        re-read every file. One parquet checkpoint carries spans + the
        nested per-document media array; returns (documents, quarantine,
        media) — media is the exploded flat catalogue, all three as
        pushdown-friendly scans over the checkpoint. HTML files carry no
        embedded blobs (web images are URLs; data: URIs get sha256
        identity in the span path), so their rows hold a NULL media
        array."""
        from pyspark.sql import functions as F

        from docproc_spark.sources.html import load_html
        from docproc_spark.sources.media_sidecar import (
            MEDIA_ARRAY_TYPE,
            load_files_with_media,
            media_table,
        )

        binary = load_files_with_media(
            self._binary_files(
                path, ("pdf", "docx", "pptx", "xlsx", "xlsm", "epub")
            )
        )
        html = load_html(
            self._binary_files(path, ("html", "htm")).drop("fmt")
        ).withColumn("media", F.lit(None).cast(MEDIA_ARRAY_TYPE))
        binary.unionByName(html).write.mode("overwrite").parquet(table_path)
        scan = self.spark.read.parquet(table_path)
        return (
            scan.filter(F.col("parse_error").isNull()).drop("media"),
            scan.filter(F.col("parse_error").isNotNull()).drop("media"),
            media_table(scan),
        )

    def media_sidecar(self, path: str) -> DataFrame:
        """Directory of real .pdf/.docx/.pptx/.xlsx files → the embedded-
        media catalogue (sources/media_sidecar.py): one row per distinct
        embedded blob per document — sha256 identity (equal to the span
        table's media_ref by construction), part/resource name, first
        page + times shown, blob size, and codec-free header metadata
        (dimensions / duration / sample rate). Same per-format binaryFile
        scans as ``load_files``; join to spans on ``media_ref`` for
        dimension-gated curation, template-media detection, or corpus
        media dedupe over ingested files."""
        from docproc_spark.sources.media_sidecar import load_media_sidecar

        return load_media_sidecar(
            self._binary_files(
                path, ("pdf", "docx", "pptx", "xlsx", "xlsm", "epub")
            )
        )

    def media_signatures(self, path: str) -> DataFrame:
        """Directory of real document files → the perceptual-signature
        catalogue (sources/media_sidecar.load_media_signatures): one
        row per distinct embedded image blob per document with REAL
        pixel-decoded dimensions and dHash/aHash fingerprints
        (kernels/imagepix — stdlib decode for PNG/BMP/GIF and PDF raw
        rasters; codec formats carry the reason in ``decode_error``).
        Same sha256 identity as ``media_sidecar``/spans; feed to
        functions/media.perceptual_dup_clusters for template /
        re-encoded-logo detection across the ingested corpus."""
        from docproc_spark.sources.media_sidecar import load_media_signatures

        return load_media_signatures(
            self._binary_files(
                path, ("pdf", "docx", "pptx", "xlsx", "xlsm", "epub")
            )
        )

    def load_warc(self, path: str) -> DataFrame:
        """Directory of .warc/.warc.gz web archives → one row per capture
        (sources/warc.py): HTML payloads land charset-decoded in
        ``raw_html``, every payload keeps sha256 identity, malformed
        records quarantine individually via ``parse_error``. One
        binaryFile scan + one mapInPandas crossing, no shuffle."""
        from docproc_spark.sources.warc import load_warc

        return load_warc(self._binary_files(path, ("warc", "warc.gz")).drop("fmt"))

    def load_webdataset(self, path: str) -> DataFrame:
        """Directory of WebDataset .tar shards → one row per sample
        (sources/webdataset.py): caption text, raw metadata JSON, and
        every media member with sha256 identity + codec-free header
        facts. One binaryFile scan (one shard per task — the format
        sizes shards for exactly this), one mapInPandas crossing.
        Lower onto the shared span table with ``wds_documents``."""
        from docproc_spark.sources.webdataset import load_webdataset

        # tarfile auto-detects gzip, so .tar.gz shards parse unchanged
        return load_webdataset(
            self._binary_files(path, ("tar", "tar.gz")).drop("fmt")
        )

    def wds_signatures(self, path: str) -> DataFrame:
        """Directory of WebDataset .tar shards → the perceptual-
        signature catalogue for every image member
        (sources/webdataset.load_wds_signatures): real pixel-decoded
        dims + dHash/aHash under the sample table's sha256 identity,
        so WDS shards join the same perceptual dedupe as documents."""
        from docproc_spark.sources.webdataset import load_wds_signatures

        return load_wds_signatures(
            self._binary_files(path, ("tar", "tar.gz")).drop("fmt")
        )

    def warc_media(self, path: str) -> DataFrame:
        """Directory of web archives → the web media catalogue with
        FETCHED facts (sources/media_sidecar.warc_media_catalogue):
        images shown by HTML captures, enriched from the archive's own
        captures of their URLs — real dimensions/format/duration plus
        payload sha256 as cross-URL content identity."""
        from docproc_spark.sources.media_sidecar import warc_media_catalogue

        return warc_media_catalogue(self.load_warc(path))

    def warc_documents(self, path: str) -> DataFrame:
        """``load_warc`` narrowed to the shared document table — HTML
        captures ready for ``extract_table`` (same downstream as
        load_files' .html branch)."""
        from docproc_spark.sources.warc import warc_to_documents

        return warc_to_documents(self.load_warc(path))

    def ingest_warc(
        self, path: str, table_path: str
    ) -> tuple[DataFrame, DataFrame]:
        """Parse a directory of web archives ONCE, checkpoint the capture
        table to parquet, and return (documents, rest) as fresh scans —
        the same ingest-once-extract-many contract as ``ingest_files``
        (see that docstring for why the checkpoint: no CSE on fan-out,
        scan-derived plans get probe elision + pushdown). ``documents``
        is the extract-ready HTML capture table (shared document schema);
        ``rest`` is everything else — quarantined records AND non-HTML
        captures, which keep their sha256 payload identity for
        media-level work."""
        from docproc_spark.sources.warc import (
            extractable_capture_col,
            warc_to_documents,
        )

        self.load_warc(path).write.mode("overwrite").parquet(table_path)
        scan = self.spark.read.parquet(table_path)
        return warc_to_documents(scan), scan.filter(~extractable_capture_col())

    def ingest_files(
        self, path: str, table_path: str
    ) -> tuple[DataFrame, DataFrame]:
        """Parse a directory of real files ONCE, checkpoint the span table
        to parquet, and return (documents, quarantine) as fresh scans over
        it — the recommended large-scale flow (ingest once, extract many).

        Why checkpoint instead of feeding ``load_files`` straight to
        ``extract_table``: (a) extract() stages a mapInPandas-derived
        frame in the block manager once per CALL (a lazy stage its
        routing probe computes), so each extract of the same
        directory parses every file again and holds a copy of its spans
        until the result is dropped; a parquet scan is routed from its
        footers' statistics with no job where they prove that no
        document crosses the threshold, and by a probe of its routing
        columns alone otherwise; (b) the ingest-time ``n_spans`` column only prunes
        parquet row groups from a real scan; (c) DataFrame fan-out gets
        no common-subexpression reuse, so every additional consumer of
        the un-checkpointed frame re-parses every byte. One write makes
        all downstream consumers scan-cheap.

        The parquet table keeps the ``parse_error`` column; both returned
        frames are pushdown filters over the same scan (documents:
        parse_error IS NULL; quarantine: the rest).
        """
        self.load_files(path).write.mode("overwrite").parquet(table_path)
        scan = self.spark.read.parquet(table_path)
        from pyspark.sql import functions as F

        return (
            scan.filter(F.col("parse_error").isNull()),
            scan.filter(F.col("parse_error").isNotNull()),
        )

    def _binary_files(self, path: str, exts: tuple[str, ...]) -> DataFrame:
        from pyspark.sql import functions as F

        def ci(ext: str) -> str:
            return "".join(f"[{c}{c.upper()}]" for c in ext)

        glob = (
            f"*.{ci(exts[0])}"
            if len(exts) == 1
            else "*.{" + ",".join(ci(e) for e in exts) + "}"
        )
        # doc_id is the path RELATIVE to the ingest root, not the bare
        # file name: two same-named files under different subdirectories
        # (multiple roots merged later, recursiveFileLookup) must not
        # collide in the span table, where doc_id is the unique document
        # key for dedupe/lineage/joins. For a flat directory this equals
        # the file name. No-match falls back to the bare name rather
        # than guessing.
        root, scheme_kept = _ingest_root(path)
        if scheme_kept:
            # remote roots (s3a://, hdfs://…) match binaryFile's `path`
            # URI string as-is — os.path.abspath would mangle the scheme
            fs_path = F.col("path")
        else:
            # local roots match scheme-stripped (the path column carries
            # raw, non-percent-encoded file: URIs — verified: a space
            # survives as ' ')
            fs_path = F.regexp_replace(
                F.col("path"), r"^[A-Za-z][A-Za-z0-9+.\-]*:/+", "/"
            )
        from urllib.parse import quote as _quote

        rel = F.regexp_extract(F.col("path"), r"([^/]+)$", 1)
        # a percent-quoted candidate is also tried in case a Hadoop FS
        # encodes special chars in the path column
        for cand in dict.fromkeys([root, _quote(root, safe="/:")]):
            rel = F.when(
                fs_path.startswith(cand),
                fs_path.substr(F.lit(len(cand) + 1), F.length(fs_path)),
            ).otherwise(rel)
        return (
            self.spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .load(path)
            .select(
                rel.alias("doc_id"),
                F.lower(
                    F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1)
                ).alias("fmt"),
                F.col("content"),
            )
        )
