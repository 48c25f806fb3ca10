"""Seeded inputs for the three benchmark workloads.

Every function here is pure: the same seed gives the same bytes, and
nothing touches Spark. The seed picks the words, the order of the
documents and which ones carry planted defects; the *amounts* (number
of documents per format, the size mix, the shares of duplicates, PII,
corrupt files) are fixed, so figures from different seeds measure the
same amount of work.
"""

from __future__ import annotations

import io
import random
import zipfile
from dataclasses import dataclass, field

FORMATS = ("html", "md", "txt", "eml", "docx", "pptx", "xlsx", "pdf", "csv")
#: formats with a container a truncated file breaks for certain; a
#: planted corrupt file of these must yield exactly one Error row
CORRUPTIBLE = ("docx", "pptx", "xlsx", "pdf")

INGEST_PER_FORMAT = 24
INGEST_CORRUPT_PER_FORMAT = 1
#: heavy-tailed size mix (Pareto, alpha 1.2) as fixed quantiles: the
#: seed shuffles which document gets which size, never the mix itself
_SIZE_ALPHA = 1.2
_SIZE_CAP = 48

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
             "for", "on", "as", "was", "it", "this", "from", "by", "at", "is")
_SYLLABLES = ("ba", "ko", "ri", "tel", "man", "sor", "vin", "da", "lu", "pe",
              "gra", "ston", "mer", "fi", "wal", "ten", "cho", "ru", "nel", "dar",
              "pol", "sen", "tri", "ga", "mo", "lin", "ver", "ka", "zen", "hol")
#: content vocabulary: 2- and 3-syllable pseudo-words, large enough that
#: word 3-grams of unrelated documents almost never coincide (a small
#: vocabulary makes every pair of documents a near-dup candidate)
CONTENT = tuple(sorted({a + b for a in _SYLLABLES for b in _SYLLABLES}
                       | {a + b + c for a in _SYLLABLES[:14] for b in _SYLLABLES
                          for c in _SYLLABLES[:8]}))
VERBS = ("carried", "opened", "measured", "built", "described", "followed",
         "checked", "reported", "changed", "studied", "moved", "shared",
         "covered", "reached", "explained", "gathered", "watched", "planned")


def _rng(kind: str, seed: int) -> random.Random:
    return random.Random(f"{kind}:{seed}")


def sentence(rng: random.Random, n_words: int | None = None) -> str:
    """A plain narrative sentence: stopwords, nouns and one verb, so
    text classifiers and the Gopher gate see ordinary prose."""
    n = n_words or rng.randint(9, 16)
    words = []
    for i in range(n):
        if i == 2:
            words.append(rng.choice(VERBS))
        elif i % 2 == 0:
            words.append(rng.choice(STOPWORDS))
        else:
            words.append(rng.choice(CONTENT))
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def paragraph(rng: random.Random, n_sent: int | None = None) -> str:
    return " ".join(sentence(rng) for _ in range(n_sent or rng.randint(2, 4)))


def title(rng: random.Random) -> str:
    return " ".join(rng.choice(CONTENT).capitalize() for _ in range(rng.randint(2, 4)))


@dataclass
class Section:
    title: str
    paragraphs: list[str]


def sections(rng: random.Random, units: int) -> list[Section]:
    return [Section(title(rng), [paragraph(rng) for _ in range(rng.randint(1, 2))])
            for _ in range(units)]


def size_units(n: int) -> list[int]:
    """``n`` section counts at the fixed Pareto quantiles (i + 0.5) / n."""
    return [min(_SIZE_CAP, max(1, int(1.0 / (1.0 - (i + 0.5) / n) ** (1 / _SIZE_ALPHA))))
            for i in range(n)]


# ---------------------------------------------------------------------------
# per-format byte builders
# ---------------------------------------------------------------------------

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_RELS = "http://schemas.openxmlformats.org/package/2006/relationships"


def _zip(members: dict[str, str]) -> bytes:
    """Zip with fixed timestamps, so equal members give equal bytes."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in members.items():
            zf.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), body)
    return buf.getvalue()


def build_html(secs: list[Section], rng: random.Random) -> bytes:
    parts = ["<!DOCTYPE html><html><head><title>doc</title></head><body>"]
    for i, s in enumerate(secs):
        parts.append(f"<h{1 if i == 0 else 2}>{s.title}</h{1 if i == 0 else 2}>")
        parts += [f"<p>{p}</p>" for p in s.paragraphs]
        if i % 5 == 4:
            rows = "".join(f"<tr><td>{rng.choice(CONTENT)}</td><td>{rng.randint(1, 999)}</td></tr>"
                           for _ in range(3))
            parts.append(f"<table><tr><th>Item</th><th>Count</th></tr>{rows}</table>")
    parts.append("</body></html>")
    return "\n".join(parts).encode()


def build_md(secs: list[Section], rng: random.Random) -> bytes:
    out = []
    for i, s in enumerate(secs):
        out.append(f"{'#' if i == 0 else '##'} {s.title}\n")
        out += [p + "\n" for p in s.paragraphs]
        if i % 6 == 5:
            out.append("\n".join(f"- {sentence(rng, 6)}" for _ in range(3)) + "\n")
    return "\n".join(out).encode()


def build_txt(secs: list[Section], rng: random.Random) -> bytes:
    out = []
    for s in secs:
        out.append(s.title.upper())
        out += s.paragraphs
    return ("\n\n".join(out) + "\n").encode()


def build_eml(secs: list[Section], rng: random.Random) -> bytes:
    body = "\n\n".join(p for s in secs for p in [s.title] + s.paragraphs)
    day = rng.randint(1, 28)
    head = (
        f"From: {rng.choice(CONTENT)}@example.com\n"
        f"To: {rng.choice(CONTENT)}@example.org\n"
        f"Subject: {secs[0].title}\n"
        f"Message-ID: <m{rng.randrange(10**9)}@example.com>\n"
        f"Date: Mon, {day} Jun 2023 10:00:00 +0000\n"
        "MIME-Version: 1.0\n"
        'Content-Type: text/plain; charset="utf-8"\n\n'
    )
    return (head + body + "\n").encode()


def build_docx(secs: list[Section], rng: random.Random) -> bytes:
    paras = []
    for s in secs:
        paras.append(f'<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
                     f"<w:r><w:t>{s.title}</w:t></w:r></w:p>")
        paras += [f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in s.paragraphs]
    document = (f'<?xml version="1.0"?><w:document xmlns:w="{_W}"><w:body>'
                + "".join(paras) + "</w:body></w:document>")
    styles = (f'<?xml version="1.0"?><w:styles xmlns:w="{_W}">'
              '<w:style w:type="paragraph" w:styleId="Heading1">'
              '<w:name w:val="Heading 1"/></w:style></w:styles>')
    return _zip({"[Content_Types].xml": "<Types/>", "word/document.xml": document,
                 "word/styles.xml": styles})


def build_pptx(secs: list[Section], rng: random.Random) -> bytes:
    members = {"[Content_Types].xml": "<Types/>"}
    ids, rels = [], []
    for i, s in enumerate(secs, start=1):
        bullets = "".join(
            f'<a:p><a:pPr lvl="0"><a:buChar char="*"/></a:pPr><a:r><a:t>{p}</a:t></a:r></a:p>'
            for p in s.paragraphs)
        members[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?><p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
            '<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>'
            '<p:spPr><a:xfrm><a:off x="0" y="0"/></a:xfrm></p:spPr>'
            f"<p:txBody><a:p><a:r><a:t>{s.title}</a:t></a:r></a:p></p:txBody></p:sp>"
            '<p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr>'
            '<p:spPr><a:xfrm><a:off x="0" y="1000"/></a:xfrm></p:spPr>'
            f"<p:txBody>{bullets}</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")
        ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="t" Target="slides/slide{i}.xml"/>')
    members["ppt/presentation.xml"] = (
        f'<?xml version="1.0"?><p:presentation xmlns:p="{_P}" xmlns:r="{_R}">'
        f"<p:sldIdLst>{''.join(ids)}</p:sldIdLst></p:presentation>")
    members["ppt/_rels/presentation.xml.rels"] = (
        f'<?xml version="1.0"?><Relationships xmlns="{_RELS}">{"".join(rels)}</Relationships>')
    return _zip(members)


def build_xlsx(secs: list[Section], rng: random.Random) -> bytes:
    strings: list[str] = []

    def sid(s: str) -> int:
        strings.append(s)
        return len(strings) - 1

    rows = [f'<row r="1"><c r="A1" t="s"><v>{sid(secs[0].title)}</v></c></row>',
            f'<row r="3"><c r="A3" t="s"><v>{sid("Name")}</v></c>'
            f'<c r="B3" t="s"><v>{sid("Note")}</v></c><c r="C3" t="s"><v>{sid("Count")}</v></c></row>']
    r = 4
    for s in secs:
        for p in [s.title] + s.paragraphs:
            rows.append(f'<row r="{r}"><c r="A{r}" t="s"><v>{sid(rng.choice(CONTENT))}</v></c>'
                        f'<c r="B{r}" t="s"><v>{sid(p[:60])}</v></c>'
                        f'<c r="C{r}"><v>{rng.randint(1, 9999)}</v></c></row>')
            r += 1
    sst = "".join(f"<si><t>{s}</t></si>" for s in strings)
    return _zip({
        "[Content_Types].xml": "<Types/>",
        "xl/workbook.xml": (f'<?xml version="1.0"?><workbook xmlns="{_S}" xmlns:r="{_R}">'
                            '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0"?><Relationships xmlns="{_RELS}">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>'),
        "xl/sharedStrings.xml": (f'<?xml version="1.0"?><sst xmlns="{_S}" count="{len(strings)}" '
                                 f'uniqueCount="{len(strings)}">{sst}</sst>'),
        "xl/worksheets/sheet1.xml": (f'<?xml version="1.0"?><worksheet xmlns="{_S}"><sheetData>'
                                     + "".join(rows) + "</sheetData></worksheet>"),
    })


def _wrap(text: str, width: int = 80) -> list[str]:
    lines, cur = [], ""
    for w in text.split():
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    return lines + ([cur] if cur else [])


def build_pdf(secs: list[Section], rng: random.Random) -> bytes:
    """Classic-xref PDF, one text object per page, Helvetica only. The
    generated text has no parentheses or backslashes, so it needs no
    string escaping."""
    pages: list[list[bytes]] = [[]]
    y = 720
    for s in secs:
        items = [(18, s.title)] + [(11, ln) for p in s.paragraphs for ln in _wrap(p)]
        for size, line in items:
            if y < 72:
                pages.append([])
                y = 720
            pages[-1].append(b"BT /F1 %d Tf 72 %d Td (%s) Tj ET" % (size, y, line.encode()))
            y -= 30 if size == 18 else 14
        y -= 10
    n = len(pages)
    font_obj = 3 + 2 * n
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [%s] /Count %d >>"
            % (b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n)), n)]
    for i, ops in enumerate(pages):
        content = b"\n".join(ops)
        objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents %d 0 R "
                    b"/Resources << /Font << /F1 %d 0 R >> >> >>" % (4 + 2 * i, font_obj))
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    buf += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    buf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref_at)
    return bytes(buf)


def build_csv(secs: list[Section], rng: random.Random) -> bytes:
    lines = ["name,note,count,city"]
    for s in secs:
        for p in [s.title] + s.paragraphs:
            lines.append(f'{rng.choice(CONTENT)},"{p[:50]}, {rng.choice(CONTENT)}",'
                         f"{rng.randint(1, 9999)},{rng.choice(CONTENT).capitalize()}")
    return ("\n".join(lines) + "\n").encode()


BUILDERS = {"html": build_html, "md": build_md, "txt": build_txt, "eml": build_eml,
            "docx": build_docx, "pptx": build_pptx, "xlsx": build_xlsx, "pdf": build_pdf,
            "csv": build_csv}


def corrupt(fmt: str, data: bytes, rng: random.Random) -> bytes:
    """Break a file so the parser must reject it: a truncated zip for
    the office formats, a PDF header over noise for pdf."""
    if fmt == "pdf":
        return b"%PDF-1.4\n" + rng.randbytes(400)
    return data[: len(data) // 2]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


@dataclass
class Doc:
    name: str
    fmt: str
    data: bytes
    expect: str  # "elements" | "error"


def ingest_docs(seed: int) -> list[Doc]:
    """INGEST_PER_FORMAT documents of each format with the fixed
    heavy-tailed size mix, INGEST_CORRUPT_PER_FORMAT of them planted
    corrupt in each corruptible format."""
    rng = _rng("ingest", seed)
    docs: list[Doc] = []
    for fmt in FORMATS:
        units = size_units(INGEST_PER_FORMAT)
        rng.shuffle(units)
        n_bad = INGEST_CORRUPT_PER_FORMAT if fmt in CORRUPTIBLE else 0
        for i, u in enumerate(units):
            data = BUILDERS[fmt](sections(rng, u), rng)
            bad = i < n_bad
            if bad:
                data = corrupt(fmt, data, rng)
            docs.append(Doc(f"{fmt}-{i:03d}.{fmt}", fmt, data, "error" if bad else "elements"))
    rng.shuffle(docs)
    return docs


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

CORPUS_DOCS = 200
#: unequal sources: (name, share of the base documents)
CORPUS_SOURCES = (("web", 0.5), ("news", 0.25), ("books", 0.15), ("forum", 0.10))
CORPUS_EXACT_DUP = 0.06
CORPUS_NEAR_DUP = 0.06
CORPUS_LOW_QUALITY = 0.04
CORPUS_CONTAMINATED = 0.03
CORPUS_PII = 0.10
CORPUS_BOILERPLATE = 0.30
BOILERPLATE_MIN_DOCS = 5
HELDOUT_PASSAGES = 40
BANNERS = ("Subscribe to our newsletter for the latest stories and updates",
           "All rights reserved and reproduced here with permission of the owner",
           "Click here to accept cookies and continue reading this page")
PACK_TOKENS = 512


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]          # (doc_id, text, source)
    heldout: list[tuple[int, str]]            # (doc_id, text)
    token_budget: int
    exact_dups: set[int] = field(default_factory=set)     # the later copy of each pair
    near_dups: set[int] = field(default_factory=set)
    low_quality: set[int] = field(default_factory=set)
    contaminated: set[int] = field(default_factory=set)


def corpus(seed: int) -> Corpus:
    """A text corpus over unequal sources with fixed shares of planted
    exact duplicates, near-duplicates, low-quality docs, docs holding a
    held-out passage (contamination), PII and shared banner lines."""
    rng = _rng("corpus", seed)
    heldout = [(i, paragraph(rng, 5)) for i in range(HELDOUT_PASSAGES)]
    n_exact = int(CORPUS_DOCS * CORPUS_EXACT_DUP)
    n_near = int(CORPUS_DOCS * CORPUS_NEAR_DUP)
    n_low = int(CORPUS_DOCS * CORPUS_LOW_QUALITY)
    n_base = CORPUS_DOCS - n_exact - n_near - n_low
    sources = [name for name, share in CORPUS_SOURCES for _ in range(round(share * n_base))]
    sources = (sources + ["web"] * n_base)[:n_base]
    rng.shuffle(sources)
    c = Corpus([], heldout, 0)
    base: list[tuple[int, str, str]] = []
    passages = list(range(HELDOUT_PASSAGES))
    rng.shuffle(passages)
    n_cont = int(CORPUS_DOCS * CORPUS_CONTAMINATED)
    for i, src in enumerate(sources):
        lines = [paragraph(rng, rng.randint(3, 6)) for _ in range(rng.randint(3, 6))]
        if i < int(CORPUS_DOCS * CORPUS_PII):
            lines.insert(1, f"Write to {rng.choice(CONTENT)}.{rng.choice(CONTENT)}"
                            f"@example.com or call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}.")
        if n_cont <= i < 2 * n_cont:
            lines.insert(rng.randint(0, len(lines)), heldout[passages[i - n_cont]][1])
            c.contaminated.add(i)
        if rng.random() < CORPUS_BOILERPLATE:
            lines.insert(0, rng.choice(BANNERS))
        base.append((i, "\n".join(lines), src))
    next_id = n_base
    # copies take ids above every original: near-dup drop keeps the
    # smallest id of a cluster, so the planted copy is the one to go
    for orig in rng.sample([b for b in base if b[0] not in c.contaminated], n_exact + n_near):
        if len(c.exact_dups) < n_exact:
            text = orig[1]
            c.exact_dups.add(next_id)
        else:
            words = orig[1].split(" ")
            for j in rng.sample(range(len(words)), 3):
                words[j] = rng.choice(CONTENT)
            text = " ".join(words)
            c.near_dups.add(next_id)
        base.append((next_id, text, rng.choice([s for s, _ in CORPUS_SOURCES])))
        next_id += 1
    for _ in range(n_low):
        junk = " ".join(rng.choice(("zq", "xv", "#@", "kk", "...")) for _ in range(80))
        base.append((next_id, junk, rng.choice([s for s, _ in CORPUS_SOURCES])))
        c.low_quality.add(next_id)
        next_id += 1
    rng.shuffle(base)
    c.docs = base
    web_tokens = sum(len(t.split()) for _, t, s in base if s == "web")
    # cuts the largest source, leaves the smaller ones whole
    c.token_budget = int(web_tokens * 0.6)
    return c


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

STREAM_HISTORY_DOCS = 40
#: sections per file, cycled, so every burst carries the same amount of text
STREAM_SECTIONS = (3, 4, 5, 4)
STREAM_FORMATS = ("md", "html")
STREAM_WARM_FILES = 4


@dataclass
class StreamPlan:
    history: list[Doc]
    warm: list[Doc]         # dropped and drained before timing starts
    bursts: list[list[Doc]]  # dropped one burst at a time, in order


def stream(seed: int, n_bursts: int, burst: int) -> StreamPlan:
    """History documents for the dedup index, then ``n_bursts`` bursts of
    ``burst`` files. Every file has new sections and exactly one section
    that copies a history section verbatim, whose chunks the history
    dedup must drop. The section counts are fixed; the seed picks the
    words, the copied section and its place."""
    rng = _rng("stream", seed)
    pool: list[Section] = []
    history = []
    for i in range(STREAM_HISTORY_DOCS):
        fmt = STREAM_FORMATS[i % len(STREAM_FORMATS)]
        secs = sections(rng, 2 + i % 4)
        pool += secs
        history.append(Doc(f"hist-{i:04d}.{fmt}", fmt, BUILDERS[fmt](secs, rng), "elements"))

    def make(prefix: str, i: int) -> Doc:
        fmt = STREAM_FORMATS[i % len(STREAM_FORMATS)]
        secs = sections(rng, STREAM_SECTIONS[i % len(STREAM_SECTIONS)])
        secs[rng.randrange(1, len(secs))] = rng.choice(pool)
        return Doc(f"{prefix}-{i:05d}.{fmt}", fmt, BUILDERS[fmt](secs, rng), "elements")

    warm = [make("warm", i) for i in range(STREAM_WARM_FILES)]
    bursts = [[make("doc", b * burst + i) for i in range(burst)] for b in range(n_bursts)]
    return StreamPlan(history, warm, bursts)
