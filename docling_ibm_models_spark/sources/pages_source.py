"""Deterministic synthetic ``pages`` source (BASELINE.json input_hint shape).

Derives a Common-Crawl-style table ``(url, warc_ts, html, text, lang)`` from
the driver's ``documents.parquet`` — no external data. For every document a
seed-fixed generator renders a full HTML page: the document's words become
titled paragraphs / lists / tables (the *main content*), wrapped in realistic
boilerplate (nav bars, cookie banners, sidebars, footers, scripts, comment
sections). The ``text`` column carries the ground-truth main-content text the
extractor must reproduce **byte-identically** per url (north rule), computed
from the generator's own content blocks via the same canonical
assembly/normalization the extractor uses — so the parity check exercises
parsing and boilerplate stripping end-to-end.

All generation is Arrow-batched (``mapInPandas``); generation cost is charged
to the producer stage, never to the extraction stage being benchmarked.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from docling_ibm_models_spark.functions.html_extract import (
    MIN_CONTENT_CHARS,
    assemble,
    normalize_text,
)

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

_NAV_WORDS = ["Home", "About", "Products", "Blog", "Contact", "Careers", "Login", "Pricing"]
_FOOTER = "© 2024 Example Corp. All rights reserved. Terms of Service. Privacy Policy."
_COOKIE = "We use cookies to improve your experience. Accept all cookies?"
_SIDEBAR_ITEMS = ["Trending now", "Most read", "Editor's picks", "From our partners"]


def _paragraphs(words: list[str], rng: random.Random) -> list[str]:
    """Group words into paragraphs of >= MIN_CONTENT_CHARS chars."""
    paras: list[str] = []
    i = 0
    while i < len(words):
        take = rng.randint(8, 22)
        chunk = words[i : i + take]
        i += take
        para = " ".join(chunk)
        if len(para) < MIN_CONTENT_CHARS and paras:
            paras[-1] = paras[-1] + " " + para
        elif len(para) >= MIN_CONTENT_CHARS:
            paras.append(para)
        elif i >= len(words) and not paras:
            paras.append((para + " placeholder content padding").strip())
    return paras


def render_page(doc_id: int, text: str, lang: str, source: str, replica: int = 0):
    """One document → (url, warc_ts, html_bytes, expected_text, lang).

    Deterministic in (doc_id, replica); seed-fixed rng drives layout variety.
    """
    rng = random.Random(f"page-{doc_id}-{replica}")
    words = text.split()
    title = " ".join(words[: max(3, min(8, len(words) // 4))]).title()
    paras = _paragraphs(words, rng)

    # content blocks as (label, raw_text); expected text derives from these
    content: list[tuple[str, str]] = [("title", title)]
    html_parts: list[str] = []
    html_parts.append(f"<h1>{_html.escape(title)}</h1>")

    n_sections = rng.randint(0, 2)
    sec_points = sorted(rng.sample(range(len(paras)), min(n_sections, len(paras))))
    for pi, para in enumerate(paras):
        if pi in sec_points:
            sec = " ".join(rng.sample(words, min(4, len(words)))).title()
            content.append(("section_header", sec))
            html_parts.append(f"<h2>{_html.escape(sec)}</h2>")
        content.append(("text", para))
        html_parts.append(f"<p>{_html.escape(para)}</p>")

    # optional list
    if rng.random() < 0.35 and len(words) >= 12:
        html_parts.append("<ul>")
        for _ in range(rng.randint(2, 4)):
            item = " ".join(rng.sample(words, min(6, len(words))))
            if len(item) >= MIN_CONTENT_CHARS:
                content.append(("list_item", item))
                html_parts.append(f"<li>{_html.escape(item)}</li>")
        html_parts.append("</ul>")

    # optional data table (main-content table — rows become `a | b` lines)
    if rng.random() < 0.30 and len(words) >= 8:
        html_parts.append('<table><tbody>')
        for _ in range(rng.randint(2, 4)):
            cells = [
                " ".join(rng.sample(words, min(2, len(words)))),
                str(rng.randint(1, 9999)),
            ]
            content.append(("table_row", " | ".join(normalize_text(c) for c in cells)))
            html_parts.append(
                "<tr>" + "".join(f"<td>{_html.escape(c)}</td>" for c in cells) + "</tr>"
            )
        html_parts.append("</tbody></table>")

    body = "\n".join(html_parts)

    # boilerplate wrapping — all of this must be stripped by the extractor
    nav = "".join(
        f'<a href="/{w.lower()}">{w}</a> ' for w in rng.sample(_NAV_WORDS, 5)
    )
    sidebar = "".join(
        f'<div class="widget"><a href="#{i}">{t}</a></div>'
        for i, t in enumerate(_SIDEBAR_ITEMS)
    )
    comments = "".join(
        f"<p>user{i} says: {_html.escape(' '.join(rng.sample(words, min(3, len(words)))))}</p>"
        for i in range(rng.randint(0, 3))
    )
    page_html = f"""<!DOCTYPE html>
<html lang="{lang}"><head><title>{_html.escape(title)}</title>
<style>body {{ margin: 0; }}</style>
<script>var tracker = "{doc_id}";</script>
</head><body>
<header><div class="logo">Example Site</div><nav>{nav}</nav></header>
<div class="cookie-banner">{_COOKIE} <a href="#accept">Accept</a></div>
<div class="layout">
<aside class="sidebar">{sidebar}</aside>
<main><article>
{body}
</article></main>
</div>
<section class="comments"><h3>Comments</h3>{comments}</section>
<footer>{_FOOTER} <a href="/about">About us</a></footer>
<script>analytics.track("view");</script>
</body></html>"""

    labeled = [(lbl, normalize_text(t)) for lbl, t in content]
    labeled = [(lbl, t) for lbl, t in labeled if t]
    expected, _spans = assemble(labeled)

    url = f"https://{source}.example.org/{lang}/doc-{doc_id:08d}-{replica}"
    ts = _EPOCH + _dt.timedelta(seconds=int(doc_id) * 37 + replica)
    return url, ts, page_html.encode("utf-8"), expected, lang


def docs_batch_to_pages(pdf: pd.DataFrame, replicas: int = 1) -> pd.DataFrame:
    """Vectorized batch converter: documents rows → pages rows."""
    rows = []
    for doc_id, text, lang, source in zip(
        pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
    ):
        for rep in range(replicas):
            rows.append(render_page(int(doc_id), text, lang, source, rep))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def cached_pages_path(
    spark, sf_dir: str, replicas: int = 1, files: int | None = None
) -> str:
    """Materialize :func:`pages_from_documents` once, cached under /tmp
    keyed by (sf_dir, replicas, file count, this file's hash). Page
    generation is a pure function of the key, and regenerating it inside
    every consumer (bench passes, extract_match) costs ~10-40 s/run at
    sf0.1; the cache is the local stand-in for 'the pages table already
    exists in the lake'. ``files`` pins the output file count (scan-task
    granularity for downstream consumers); default is the generating
    session's ``defaultParallelism * 2``."""
    import hashlib
    import os
    import tempfile

    from docling_ibm_models_spark.functions import html_extract

    # the generated html AND the ground-truth text column depend on
    # html_extract.py too (assemble/normalize_text/MIN_CONTENT_CHARS) —
    # hash every module that shapes the output, or edits there would be
    # served stale pages
    h = hashlib.md5()
    for mod_file in (__file__, html_extract.__file__):
        with open(mod_file, "rb") as f:
            h.update(f.read())
    gen_hash = h.hexdigest()[:12]
    fpart = f"-f{files}" if files else ""
    key = f"{sf_dir.replace('/', '_')}-r{replicas}{fpart}-{gen_hash}"
    path = os.path.join(tempfile.gettempdir(), "bench_pages_cache", key, "pages")
    if not os.path.exists(f"{path}/_SUCCESS"):
        pages_from_documents(
            spark, sf_dir, replicas=replicas, parallelism=files
        ).write.mode("overwrite").parquet(path)
    return path


def cached_pages(spark, sf_dir: str, replicas: int = 1):
    return spark.read.parquet(cached_pages_path(spark, sf_dir, replicas))


def write_skewed_pages(
    spark, pages_df, out_path: str, files: int = 32, hot_frac: float = 0.9
) -> None:
    """Write ``pages_df`` as an ADVERSARIALLY HOST-SKEWED parquet layout:
    ``hot_frac`` of the rows land in ONE file, the rest spread over the
    remaining ``files - 1``.

    This emulates the hostile crawl layout the narrow extraction path's
    byte-balanced scan splits cannot fix: one WARC-style file owned by a
    single dominant host (or a compressed region whose per-byte extraction
    cost dwarfs its scan bytes). At local sf the hot file is far below
    ``spark.sql.files.maxPartitionBytes``, so it becomes exactly one scan
    split — one task owns ``hot_frac`` of all extraction work, which is the
    skew :func:`docling_ibm_models_spark.pipeline.extract.salt_partition`
    exists to neutralize (north rule: skew handled explicitly).
    """
    hot_key = F.when(
        F.pmod(F.xxhash64(F.col("url")), F.lit(1000)) < int(hot_frac * 1000),
        F.lit("__hot__"),
    ).otherwise(F.col("url"))
    (
        pages_df.repartition(files, hot_key)
        .write.mode("overwrite")
        .parquet(out_path)
    )


def pages_from_documents(
    spark,
    sf_dir: str,
    replicas: int = 1,
    parallelism: int | None = None,
    max_doc_id: int | None = None,
):
    """documents.parquet → pages DataFrame (input_hint shape), Arrow-batched.

    ``documents.parquet`` is a single small file, so without an explicit
    repartition the whole generation (and any parquet written from it) would
    collapse to 1-2 tasks/files — which then caps the scan parallelism of
    every downstream consumer. At cluster scale the input table has
    thousands of files; the repartition emulates that layout locally.
    """
    from docling_ibm_models_spark import schemas

    parallelism = parallelism or spark.sparkContext.defaultParallelism * 2
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if max_doc_id is not None:
        # deterministic, parallelism-independent subset (a post-generation
        # limit() picks different rows at different partition counts) —
        # pushed down to the parquet scan before the repartition
        from pyspark.sql import functions as F

        docs = docs.where(F.col("doc_id") < max_doc_id)
    docs = docs.repartition(parallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield docs_batch_to_pages(pdf, replicas=replicas)

    return docs.mapInPandas(gen, schema=schemas.PAGES)
