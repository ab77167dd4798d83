"""Deterministic Common-Crawl-style page generator (FIXTURES.md §1-3).

Pure function of (seed, doc_id) — no wall clock, no global state — so
the same table regenerates bit-identically on every executor, every
rerun (exactly-once resume depends on this, SURVEY.md §7.4#3).

Schema = BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string
``text`` is the crawl-provided naive full-page text (boilerplate
included) — deliberately different from extracted main content.

Generation is DISTRIBUTED: ``pages_df`` builds the table with
mapInArrow over ``spark.range`` so a 10^12-row variant would synthesize
on executors, never the driver.  It returns the pages MATERIALIZED on
the executors, so the Python kernel a consumer runs over them does not
share a stage (and so two Python workers per task) with the generator.
A lost checkpoint block fails the job instead of regenerating; that is
fine for a synthetic source (real runs read ``--input``).
"""

from __future__ import annotations

import base64
import datetime
import random
import re

# bump when generated bytes change: bench harnesses key their cached
# corpora on this so stale parquet never mixes generator versions
GEN_VERSION = 2

from . import pdfmini

BASE_TS = datetime.datetime(2025, 1, 1, 0, 0, 0)

WORDS = {
    "en": ("the quick brown fox jumps over lazy dog data spark table query "
           "window batch stream merge sort join filter scan partition shuffle "
           "vector column row value order group count hash key range index "
           "page text block content article section result model".split()),
    "de": ("der die das und schnell braun fuchs springt über faul hund daten "
           "tabelle abfrage fenster strom sortieren verbinden filtern seite "
           "text block inhalt artikel abschnitt ergebnis modell wert".split()),
    "fr": ("le la les et rapide brun renard saute par dessus chien données "
           "table requête fenêtre flux trier joindre filtrer page texte bloc "
           "contenu article section résultat modèle valeur ordre".split()),
    "es": ("el la los y rápido marrón zorro salta sobre perro datos tabla "
           "consulta ventana flujo ordenar unir filtrar página texto bloque "
           "contenido artículo sección resultado modelo valor orden".split()),
    "zh": ("数据 表格 查询 窗口 批量 流式 排序 连接 过滤 扫描 分区 向量 列 行 值 "
           "顺序 分组 计数 哈希 键 范围 索引 页面 文本 块 内容 文章 节 结果 模型".split()),
}
LANGS = ("en", "de", "fr", "es", "zh")
LANG_W = (0.5, 0.15, 0.15, 0.1, 0.1)

_TAG_RE = re.compile(r"<[^>]*>")
_SKIP_RE = re.compile(r"<(script|style)[^>]*>.*?</\1>", re.S | re.I)


def _soup(rng: random.Random, lang: str, n: int, messy: bool = False) -> str:
    ws = WORDS[lang]
    words = [rng.choice(ws) for _ in range(n)]
    if messy and n > 4:  # entity + whitespace variety to pin normalization
        i = rng.randrange(1, n - 1)
        words[i] = words[i] + rng.choice([" &amp; ", " &#x2014; ", ",", "."])
        j = rng.randrange(1, n - 1)
        words[j] = words[j] + rng.choice(["\n  ", "   ", "\n\n\t"])
    return " ".join(words)


def _link_list(rng: random.Random, lang: str, n: int) -> str:
    items = "".join(
        f'<li><a href="/{rng.randrange(999)}">{_soup(rng, lang, rng.randint(1, 3))}</a></li>'
        for _ in range(n))
    return f"<ul>{items}</ul>"


def _article_html(rng: random.Random, lang: str, n_words: int) -> str:
    """Main content: headings, paragraphs, list, table, code, quote,
    inline spans + entities (FIXTURES.md §2)."""
    parts = [f"<h1>{_soup(rng, lang, rng.randint(3, 7))}</h1>"]
    budget = n_words
    section = 0
    while budget > 0:
        section += 1
        if section > 1:
            parts.append(f"<h2>{_soup(rng, lang, rng.randint(2, 5))}</h2>")
        for _ in range(rng.randint(1, 4)):
            k = min(budget, rng.randint(15, 60))
            budget -= k
            txt = _soup(rng, lang, k, messy=True)
            if rng.random() < 0.4:  # inline spans
                txt += (f' <b>{_soup(rng, lang, 2)}</b> and'
                        f' <a href="/x">{_soup(rng, lang, 2)}</a> tail')
            parts.append(f"<p>{txt}</p>")
            if budget <= 0:
                break
        r = rng.random()
        if r < 0.25:
            tag = rng.choice(["ul", "ol"])
            items = "".join(f"<li>{_soup(rng, lang, rng.randint(2, 8))}</li>"
                            for _ in range(rng.randint(2, 6)))
            parts.append(f"<{tag}>{items}</{tag}>")
        elif r < 0.40:
            rows, cols = rng.randint(2, 5), rng.randint(2, 4)
            trs = "".join(
                "<tr>" + "".join(
                    f"<td>{_soup(rng, lang, rng.randint(1, 3))}</td>"
                    for _ in range(cols)) + "</tr>"
                for _ in range(rows))
            parts.append(f"<table>{trs}</table>")
        elif r < 0.50:
            code = "\n".join("x%d = f(%d)" % (i, rng.randrange(99))
                             for i in range(rng.randint(2, 5)))
            parts.append(f"<pre><code>{code}</code></pre>")
        elif r < 0.60:
            parts.append(f"<blockquote>{_soup(rng, lang, rng.randint(8, 20))}"
                         "</blockquote>")
        elif r < 0.72:  # pictures: data-URI (decodable) or remote ref (C9)
            if rng.random() < 0.6:
                fake_png = bytes([137, 80, 78, 71]) + rng.randbytes(24)
                b64 = base64.b64encode(fake_png).decode()
                parts.append(f'<img src="data:image/png;base64,{b64}">')
            else:
                parts.append(f'<img src="https://img.example/{rng.randrange(9999)}.jpg">')
    return "\n".join(parts)


def _html_page(rng: random.Random, doc_id: int, lang: str,
               force_words: int | None = None) -> bytes:
    n_words = max(30, int(rng.lognormvariate(5.0, 1.0)))
    bomb = doc_id % 17001 == 9         # pinned skew bombs (MBs of HTML)
    if bomb:
        n_words = 600_000
    if force_words is not None and not bomb:
        # giant-host stress twin (bench skew scenario): override size
        # AFTER the rng draw so every other doc's byte stream is
        # identical to the uniform corpus
        n_words = force_words
    no_article = rng.random() < 0.20   # pure density detection variant
    malformed = not bomb and rng.random() < 0.05
    empty_body = not bomb and rng.random() < 0.02
    non_utf8 = not bomb and rng.random() < 0.03 and lang in ("de", "fr", "es")
    comments = rng.random() < 0.30
    dup_cand = rng.random() < 0.10

    head = ("<head><title>%s</title><style>body{margin:0}</style>"
            "<script>var t=%d;</script></head>"
            % (_soup(rng, lang, 4), doc_id))
    banner = (f"<header><div>Site {doc_id % 200} banner</div>"
              f"<nav>{_link_list(rng, lang, rng.randint(5, 10))}</nav></header>")
    cookie = ('<div class="cookie">We use cookies to improve your experience '
              '<a href="/accept">Accept</a> <a href="/reject">Reject</a></div>')
    aside = f"<aside><h3>Related</h3>{_link_list(rng, lang, rng.randint(6, 14))}</aside>"
    footer = f"<footer>{_link_list(rng, lang, rng.randint(4, 8))}</footer>"

    if empty_body:
        body = ""
        article = ""
    else:
        article = _article_html(rng, lang, n_words)
        wrap = ("<div id=\"main\">%s</div>" if no_article
                else "<article>%s</article>") % article
        cblock = ""
        if comments:
            cs = "".join(
                f'<p>{_soup(rng, lang, rng.randint(4, 12))} '
                f'<a href="/u/{rng.randrange(99)}">user{rng.randrange(99)}</a></p>'
                for _ in range(rng.randint(2, 6)))
            cblock = f'<div class="comments"><h3>Comments</h3>{cs}</div>'
        dblock = ""
        if dup_cand:  # smaller near-duplicate candidate container
            dblock = (f'<div class="dup"><p>{_soup(rng, lang, 20)}</p>'
                      f'<p>{_soup(rng, lang, 15)}</p></div>')
        body = f'{banner}{cookie}<div id="page">{aside}{wrap}{cblock}{dblock}</div>{footer}'

    html = f"<!DOCTYPE html><html>{head}<body>{body}</body></html>"
    if malformed and article:  # strip some closing tags: parser-recovery path
        html = html.replace("</p>", "", 3).replace("</div>", "", 1)
    if non_utf8:
        return html.replace(" und ", " ünd ").encode("latin-1", "replace")
    return html.encode("utf-8")


def _pdf_page(rng: random.Random, lang: str) -> bytes:
    n_pages = rng.randint(1, 3)
    pages = []
    for _ in range(n_pages):
        two_col = rng.random() < 0.5
        runs = [(50, 30, 24, _soup(rng, lang, rng.randint(3, 6)))]
        n_par = rng.randint(4, 10)
        for i in range(n_par):
            col_x = 50 if (not two_col or i < n_par // 2) else 400
            base_y = 80 + (i if not two_col else i % max(1, n_par // 2)) * 40
            y = base_y + rng.randint(0, 8)  # jitter defeats naive y sort
            fs = 18 if rng.random() < 0.15 else 11
            runs.append((col_x, y, fs, _soup(rng, lang, rng.randint(6, 20))))
        rng.shuffle(runs)
        pages.append(runs)
    return pdfmini.write_pdf(pages)


def naive_text(html: bytes) -> str:
    """Crawl-style naive text: tag-strip + collapse, boilerplate included."""
    if html.startswith(pdfmini.MAGIC):
        _, runs = pdfmini.parse_runs(html)
        return " ".join(r[4] for r in runs)
    try:
        s = html.decode("utf-8")
    except UnicodeDecodeError:
        s = html.decode("latin-1")
    s = _SKIP_RE.sub(" ", s)
    import html as _h
    return " ".join(_h.unescape(_TAG_RE.sub(" ", s)).split())


def gen_page(doc_id: int, seed: int = 42, giant_every: int | None = None,
             giant_words: int = 60_000) -> dict:
    """One page; with ``giant_every`` set, every doc on host
    site{0} (doc_id % giant_every == 0, and giant_every == the site
    modulus 200 makes them ALL one host) becomes a ``giant_words``
    HTML page — the one-giant-HTML-family skew twin for the bench's
    extraction stress scenario.  All other docs are byte-identical to
    the uniform corpus (rng draws are consumed identically)."""
    rng = random.Random((seed << 32) ^ doc_id)
    lang = rng.choices(LANGS, weights=LANG_W, k=1)[0]
    is_pdf = rng.random() < 0.05 and doc_id % 17001 != 9  # bombs stay HTML
    giant = giant_every is not None and doc_id % giant_every == 0
    if giant:
        is_pdf = False                 # the giant family is HTML
    payload = (_pdf_page(rng, lang) if is_pdf
               else _html_page(rng, doc_id, lang,
                               force_words=giant_words if giant else None))
    site = doc_id % 200
    path = "-".join(_soup(rng, "en", 2).split())
    ext = "pdf" if is_pdf else "html"
    return {
        "url": f"https://site{site}.example/{path}/{doc_id}.{ext}",
        "warc_ts": BASE_TS + datetime.timedelta(seconds=doc_id),
        "html": payload,
        "text": naive_text(payload),
        "lang": lang,
    }


# ---------------------------------------------------------------------------
# distributed generation (mapInArrow over spark.range)
# ---------------------------------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def pages_df(spark, n: int, seed: int = 42, parallelism: int | None = None,
             giant_every: int | None = None, giant_words: int = 60_000):
    """Synthesize the page table on executors; one Arrow batch per input
    batch of ids. Generator runs where the data lives — scales linearly.

    The pages come back materialized on the executors, in
    ``parallelism`` partitions (an eager ``localCheckpoint``: one Spark
    job here, and the plan a consumer sees is a scan of that RDD).  A
    consumer's kernel therefore runs alone in its stage, with one
    Python worker per task, instead of chained to ``gen_batches`` with
    two.  A lazy checkpoint would materialize inside the consumer's
    first job, in the same stage, and a repartition would shuffle
    ``html``."""
    import pyarrow as pa

    def gen_batches(it):
        for batch in it:
            ids = batch.column(0).to_pylist()
            rows = [gen_page(i, seed, giant_every, giant_words)
                    for i in ids]
            yield pa.RecordBatch.from_pydict({
                "url": pa.array([r["url"] for r in rows], pa.large_string()),
                "warc_ts": pa.array([r["warc_ts"] for r in rows],
                                    pa.timestamp("us")),
                "html": pa.array([r["html"] for r in rows], pa.large_binary()),
                "text": pa.array([r["text"] for r in rows], pa.large_string()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
            })

    rng_df = spark.range(0, n, 1, parallelism or spark.sparkContext.defaultParallelism)
    pages = rng_df.mapInArrow(gen_batches, PAGES_SCHEMA)
    return pages.localCheckpoint(eager=True)
