"""Seeded workload inputs.

Every input is a pure function of ``(seed, index)``.  Two generators:

* :func:`zipf_corpus` draws documents from ``sources.synthetic.gen_doc``
  (Pareto(1.1) sizes, 1 KB .. 900 KB) and adds a few documents over the
  1 MiB admission gate.  Documents are picked so that their size targets
  sit on fixed quantiles of the Pareto law and their ``doc_id`` is their
  size rank: the seed changes every byte of content and the row order,
  while the size mix and the hash placement of each size class stay the
  same from seed to seed.  That keeps the straggler structure of the
  workload, without letting one seed's luck in the tail decide the run.
* :func:`small_page` builds 1-4 KB pages with several media spans and a
  per-document config; every tenth page has no ``<main>`` and needs
  ``boilerplate_fallback`` (its markup and expected markdown come from
  ``sources.boilergen.synth_content_page``).

Each document carries an ``oracle``: facts about the expected markdown
that follow from how the page was built, independent of the transform.
"""

from __future__ import annotations

import bisect
import hashlib
import random
import re

from helix_html2md_spark.core.html2md import resolve_url
from helix_html2md_spark.sources.boilergen import synth_content_page
from helix_html2md_spark.sources.synthetic import gen_doc

CRAWL_DOCS = 2000  # gen_doc documents of crawl-zipf, before the oversize ones
SMALL_PAGES = 5000  # pages of small-pages
PARETO_ALPHA = 1.1
SIZE_FLOOR = 1024
SIZE_CAP = 900 << 10  # gen_doc's own cap
OVERSAMPLE = 20  # zipf_indices candidates per document
GATE_BYTES = 1 << 20  # default max_html_size of the extraction gate
GATE_ERROR = "html source larger than 1MB"
WORDS = (
    "signal content reader dense column stream engine corpus page rank "
    "shuffle block spark filter scan broadcast join window batch order "
    "table media image grid cell section author topic review archive"
).split()


def html_of(doc: dict) -> str:
    """Concat of the html spans in offset order (the JVM assembly rule)."""
    spans = sorted(
        (s for s in doc["spans"] if s["kind"] == "html"),
        key=lambda s: s["offset"],
    )
    return "".join(s["text"] for s in spans)


def media_of(doc: dict) -> list:
    return [s for s in doc["spans"] if s["kind"] == "media"]


# ---------------------------------------------------------------------------
# crawl-zipf: stratified Pareto corpus from gen_doc
# ---------------------------------------------------------------------------


def _size_target(seed: int, i: int) -> int:
    """The size target gen_doc(seed, i) draws first from its rng."""
    rng = random.Random(f"{seed}:{i}")
    return min(int(SIZE_FLOOR * rng.paretovariate(PARETO_ALPHA)), SIZE_CAP)


def zipf_indices(seed: int, n: int) -> list[int]:
    """gen_doc indices whose size targets sit on the n mid-quantiles of
    the capped Pareto law, smallest first (position = size rank), chosen
    from OVERSAMPLE * n candidates."""
    m = n * OVERSAMPLE
    cands = sorted((_size_target(seed, i), i) for i in range(m))
    keys = [t for t, _ in cands]
    used = [False] * m
    out = []
    for j in range(n):
        u = (j + 0.5) / n
        want = min(SIZE_FLOOR * (1.0 - u) ** (-1.0 / PARETO_ALPHA), SIZE_CAP)
        p = bisect.bisect_left(keys, want)
        lo, hi = p - 1, p
        # nearest unused candidate on either side
        while True:
            while lo >= 0 and used[lo]:
                lo -= 1
            while hi < m and used[hi]:
                hi += 1
            if hi >= m or (lo >= 0 and want - keys[lo] <= keys[hi] - want):
                pick = lo
            else:
                pick = hi
            if pick >= 0:
                break
            raise ValueError("candidate pool exhausted")
        used[pick] = True
        out.append(cands[pick][1])
    return out


def _h2_texts(html: str) -> list[str]:
    return re.findall(r"<h2>([^<]*)</h2>", html)


def zipf_corpus(seed: int, n: int, n_oversize: int) -> list[dict]:
    """n gen_doc documents (doc_id = size rank) plus n_oversize documents
    over the gate; rows in a seeded order."""
    docs = []
    for rank, i in enumerate(zipf_indices(seed, n)):
        d = gen_doc(seed, i)
        html = html_of(d)
        docs.append({
            "doc_id": f"zipf:{rank:06d}",
            "spans": d["spans"],
            "config": {},
            "html_len": len(html),
            "oracle": {"status": "ok", "contains": [f"## {h}" for h in _h2_texts(html)]},
        })
    for k in range(n_oversize):
        d = gen_doc(seed, n * 50 + k)
        size = len(html_of(d))
        need = GATE_BYTES + 4096 - size
        text = " ".join(WORDS) + " "
        pad = "<p>" + (text * (need // len(text) + 1))[:need] + "</p>"
        spans = list(d["spans"]) + [
            {"kind": "html", "text": pad, "media_ref": "", "offset": len(d["spans"])}
        ]
        docs.append({
            "doc_id": f"zipf-over:{k:04d}",
            "spans": spans,
            "config": {},
            "html_len": size + len(pad),
            "oracle": {"status": "constraint_error", "error": GATE_ERROR},
        })
    random.Random(f"order:{seed}").shuffle(docs)
    return docs


# ---------------------------------------------------------------------------
# small-pages: 1-4 KB pages with media spans and a per-document config
# ---------------------------------------------------------------------------


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _media_ref(url: str, w: int, h: int) -> str:
    return f"media:1{hashlib.sha1(url.encode()).hexdigest()}:{w}x{h}:image/png"


def small_page(seed: int, i: int) -> dict:
    """One small page; every tenth index is a no-<main> fallback page."""
    rng = random.Random(f"small:{seed}:{i}")
    org, site = f"org{i % 7}", f"site{i % 13}"
    source_url = f"https://www.example.com/{site}/p{i}/"
    if i % 10 == 3:
        html, expected = synth_content_page(seed * 100_003 + i)
        return {
            "doc_id": f"page:{i:06d}",
            "spans": [{"kind": "html", "text": html, "media_ref": "", "offset": 0}],
            "config": {
                "source_url": source_url, "org": org, "site": site,
                "media_enabled": True, "boilerplate_fallback": True,
            },
            "html_len": len(html),
            "oracle": {"status": "ok", "equals": expected},
        }

    spans: list[dict] = []
    buf: list[str] = []
    headings: list[str] = []
    image_urls: list[str] = []  # definitions follow the body, in order
    size = 0

    def emit(s: str) -> None:
        nonlocal size
        buf.append(s)
        size += len(s)

    def image(k: int) -> None:
        src = rng.choice(("img/", "/media/", "./pics/")) + f"{i}-{k}.png"
        w, h = rng.choice(((300, 300), (640, 480), (1200, 800)))
        resolved = resolve_url(src, source_url)
        emit(f'<picture><img src="{src}" alt="{_words(rng, 2)}">')
        spans.append({"kind": "html", "text": "".join(buf), "media_ref": "", "offset": len(spans)})
        buf.clear()
        spans.append({
            "kind": "media", "text": src,
            "media_ref": _media_ref(resolved, w, h), "offset": len(spans),
        })
        emit("</picture>")
        digest = hashlib.sha1(resolved.encode()).hexdigest()
        image_urls.append(
            f"https://main--{site}--{org}.aem.page/media_1{digest}.png#width={w}&height={h}"
        )

    title = _words(rng, 4)
    emit(
        f"<html><head><title>{title}</title>"
        f'<meta name="description" content="{_words(rng, 10)}"></head><body>'
        '<header><nav><a href="/">home</a> <a href="/about">about</a></nav></header>'
        f"<main><div><h1>{title}</h1>"
    )
    headings.append(f"# {title}")
    n_images = 0
    target = rng.randint(1024, 4096)
    while size < target - 200:
        heading = _words(rng, rng.randint(2, 5))
        emit(f"</div><div><h2>{heading}</h2>")
        headings.append(f"## {heading}")
        for _ in range(rng.randint(1, 3)):
            kind = rng.random()
            if kind < 0.45:
                emit(f"<p>{_words(rng, rng.randint(8, 30))}</p>")
            elif kind < 0.6:
                items = "".join(f"<li>{_words(rng, rng.randint(2, 6))}</li>" for _ in range(rng.randint(2, 5)))
                emit(f"<ul>{items}</ul>")
            elif kind < 0.75:
                cells = "".join(
                    f"<div><p>{_words(rng, rng.randint(3, 10))}</p></div>" for _ in range(2)
                )
                emit(f'<div class="columns"><div>{cells}</div></div>')
            else:
                n_images += 1
                image(n_images)
    while n_images < 2:
        n_images += 1
        image(n_images)
    emit("</div></main><footer><p>copyright example</p></footer></body></html>")
    spans.append({"kind": "html", "text": "".join(buf), "media_ref": "", "offset": len(spans)})
    return {
        "doc_id": f"page:{i:06d}",
        "spans": spans,
        "config": {
            "source_url": source_url, "org": org, "site": site,
            "media_enabled": True, "boilerplate_fallback": False,
        },
        "html_len": sum(len(s["text"]) for s in spans if s["kind"] == "html"),
        "oracle": {"status": "ok", "contains": headings + image_urls},
    }


def small_pages(seed: int, n: int) -> list[dict]:
    docs = [small_page(seed, i) for i in range(n)]
    random.Random(f"order:{seed}").shuffle(docs)
    return docs
