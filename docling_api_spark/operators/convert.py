"""The core map: document bytes → (markdown ⊕ error) rows, Arrow-vectorized.

This is the Spark-native re-expression of the reference's conversion engine:
``DoclingDocumentConversion.convert`` / ``convert_batch``
(``service.py:68-88``, ``service.py:90-118``) become ONE ``mapInPandas``
operator — Spark's partition iterator *is* the batch (the reference pipelines
a list through ``convert_all``, ``service.py:101-104``; we pipeline Arrow
record batches through a generator). Key semantics preserved:

- ``raises_on_error=False`` (``service.py:80,103``): extraction is a total
  function; every input row yields exactly one output row with markdown XOR
  a failure code (``service.py:83-88``) — the job never dies on a poison
  document;
- format gate as error rows, not drops (``utils.py:104-105`` + SURVEY A3);
- unlike the reference, which constructs its converter **per request**
  (``service.py:76-78`` — models reloaded every call), all our extractor
  state is module-level and built once per Python worker process
  (``spark.python.worker.reuse`` keeps it warm) — SURVEY A8.

No per-row Python UDFs anywhere: this module is invoked via
``df.mapInPandas(make_convert_fn(cfg), RESULT_DDL)``.
"""

from __future__ import annotations

import re
import time

import pandas as pd

from ..config import ExtractConfig
from ..functions.sniffer import detect_format
from .html_extract import extract_html
from .md_adoc import asciidoc_to_markdown, block_spans, normalize_markdown
from .ooxml import extract_docx_rich, extract_pptx_rich
from .pdf_extract import PdfUnsupported, extract_pdf_rich


def _decode_text(content: bytes) -> str:
    """utf-8 with latin-1 fallback — deterministic, never raises."""
    try:
        return content.decode("utf-8")
    except UnicodeDecodeError:
        return content.decode("latin-1")


#: html5-prescan charset sniff window (whatwg: first 1024 bytes)
_CHARSET_RX = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([a-zA-Z0-9_\-]+)", re.IGNORECASE)

#: declared-label → python codec for the charsets a crawl actually sees
#: (whatwg: the 'latin-1' family of labels all mean windows-1252; the
#: utf-16 family of labels means utf-8 — §13.2.3.2 step "If charset is
#: a UTF-16 encoding, set charset to UTF-8": the prescan only ever sees
#: the label through ASCII-compatible bytes, so a visible utf-16
#: declaration is by construction wrong. r5 ADVICE fix: the old mapping
#: decoded even-length ASCII HTML as CJK mojibake with no error row.)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "us-ascii": "ascii",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}


def decode_html(content: bytes) -> str:
    """HTML byte-stream decoding per the real crawl contract (r4): BOM
    first, then the html5 prescan for a ``<meta charset=..>`` /
    ``http-equiv`` declaration in the first 1024 bytes (whatwg §13.2.3.2
    — incl. the iso-8859-1→windows-1252 label remap), then the utf-8 →
    latin-1 fallback chain. Deterministic, never raises (undecodable
    byte under the declared codec → the fallback chain, mirroring
    browser error-recovery)."""
    if content[:3] == b"\xef\xbb\xbf":
        return content[3:].decode("utf-8", "replace")
    if content[:2] == b"\xff\xfe":
        return content.decode("utf-16-le", "replace").lstrip("﻿")
    if content[:2] == b"\xfe\xff":
        return content.decode("utf-16-be", "replace").lstrip("﻿")
    m = _CHARSET_RX.search(content[:1024])
    if m:
        codec = _CHARSET_ALIASES.get(
            m.group(1).decode("ascii", "ignore").lower())
        if codec:
            try:
                return content.decode(codec)
            except (UnicodeDecodeError, ValueError):
                pass
    return _decode_text(content)


def convert_one(content, url: str, cfg: ExtractConfig) -> dict:
    """Pure per-document conversion. Returns a dict with keys
    fmt/markdown/images/spans/error — exactly one of markdown/error set."""
    out = {"fmt": None, "markdown": None, "images": None, "spans": None,
           "error": None}
    if content is None or len(content) == 0:
        out["error"] = "empty_document"
        return out
    content = bytes(content)
    fmt = detect_format(content, url)
    out["fmt"] = fmt
    if fmt is None:
        out["error"] = "unsupported_format"
        return out
    try:
        if fmt == "html":
            res = extract_html(decode_html(content), cfg)
            out["markdown"] = res.markdown
            out["images"] = res.images
            out["spans"] = res.spans if cfg.emit_spans else None
        elif fmt == "md":
            out["markdown"] = normalize_markdown(_decode_text(content))
        elif fmt == "asciidoc":
            out["markdown"] = asciidoc_to_markdown(_decode_text(content))
        elif fmt == "pdf":
            # r6 notch 11a: embedded image XObjects surface on the
            # same A12 manifest contract as HTML pictures
            out["markdown"], out["images"] = extract_pdf_rich(content)
        elif fmt == "docx":
            out["markdown"], out["images"] = extract_docx_rich(content)
        elif fmt == "pptx":
            out["markdown"], out["images"] = extract_pptx_rich(content)
        elif fmt == "image":
            # Machine-rendered text rasters are OCR'd for real by the
            # from-scratch template matcher (operators/ocr.py — the
            # easyocr counterpart, service.py:37, within sandbox scope);
            # anything else (photographic scans, other encodings) keeps
            # the explicit failure code rather than garbled output.
            from .ocr import ocr_image
            try:
                text = ocr_image(content)
            except ValueError:
                out["error"] = "ocr_not_supported"
                return out
            out["markdown"] = text if text else None
            if not text:
                out["error"] = "empty_document"
                return out
    except PdfUnsupported:
        out["error"] = "pdf_unsupported_feature"
        return out
    except Exception:
        out["error"] = "parse_error"
        return out
    if out["markdown"] is not None and out["markdown"] == "":
        out["markdown"] = None
        out["images"] = None     # error rows carry NULL images
        out["error"] = "empty_document"
    if out["markdown"] is not None:
        if out["images"] is None:
            out["images"] = []
        if out["spans"] is None and cfg.emit_spans:
            # per-block spans for non-HTML formats (r3; the HTML path
            # tracks spans during serialization) — same C7 offset
            # contract for every format
            out["spans"] = block_spans(out["markdown"])
    return out


def make_convert_fn(cfg: ExtractConfig):
    """Build the mapInPandas function. The returned generator processes an
    iterator of Arrow-backed pandas batches — one in flight at a time
    (memory bound per SURVEY.md §7.3)."""

    def convert_partition(batches):
        for pdf in batches:
            n = len(pdf)
            fmts, mds, imgs, spans, errs = [], [], [], [], []
            bytes_in, bytes_out, parse_ms = [], [], []
            part_ids = pdf["partition_id"] if "partition_id" in pdf.columns else None
            for i in range(n):
                content = pdf["html"].iat[i]
                url = pdf["url"].iat[i]
                if (cfg.fail_partitions and part_ids is not None
                        and int(part_ids.iat[i]) in cfg.fail_partitions):
                    # test hook for the resume/kill test — never set in prod
                    raise RuntimeError(
                        f"injected failure in partition {int(part_ids.iat[i])}")
                t0 = time.perf_counter()
                r = convert_one(content, url, cfg)
                parse_ms.append((time.perf_counter() - t0) * 1000.0)
                fmts.append(r["fmt"])
                mds.append(r["markdown"])
                imgs.append(r["images"])
                spans.append(r["spans"])
                errs.append(r["error"])
                bytes_in.append(0 if content is None else len(content))
                bytes_out.append(0 if r["markdown"] is None
                                 else len(r["markdown"].encode("utf-8")))
            yield pd.DataFrame({
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"] if "warc_ts" in pdf.columns
                else pd.Series([None] * n, dtype="datetime64[us]"),
                "lang": pdf["lang"] if "lang" in pdf.columns
                else pd.Series([None] * n, dtype="object"),
                "fmt": pd.Series(fmts, dtype="object", index=pdf.index),
                "markdown": pd.Series(mds, dtype="object", index=pdf.index),
                "images": pd.Series(imgs, dtype="object", index=pdf.index),
                "spans": pd.Series(spans, dtype="object", index=pdf.index),
                "error": pd.Series(errs, dtype="object", index=pdf.index),
                "bytes_in": pd.Series(bytes_in, dtype="int64", index=pdf.index),
                "bytes_out": pd.Series(bytes_out, dtype="int64", index=pdf.index),
                "parse_ms": pd.Series(parse_ms, dtype="float64", index=pdf.index),
                "partition_id": (part_ids.astype("int32") if part_ids is not None
                                 else pd.Series([0] * n, dtype="int32", index=pdf.index)),
            })

    return convert_partition
