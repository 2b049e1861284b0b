"""Seeded corpus generator for the `rag_ingest` workload.

Writes a mixed document corpus in the shapes the engine's ingest reads,
with file formats written by the standard library alone and text taken
from the engine's test documents (`data/documents.parquet`):
`.txt`/`.md` plain text, `.pdf` (classic-xref PDF, one text line per page)
and `.pptx` (zip + slide XML with PNG pictures, the layout the stdlib
fallback parser reads). Files are spread over several folders, one per
ingest batch, so a session can add them one batch at a time. The
generator knows how many text chunks and images each file must yield,
so the benchmark can check the store against it.
"""

from __future__ import annotations

import os
import random
import struct
import zipfile
import zlib
from dataclasses import dataclass, field

#: words per chunk of the engine's word-window chunker
CHUNK_WORDS = 64
#: files of each kind per batch folder
TEXT_FILES, PDF_FILES, PPTX_FILES = 4, 2, 2
#: zip entry timestamp, fixed so a seed always gives the same bytes
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)

#: the engine's test documents, the source of every generated text
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


@dataclass
class FileSpec:
    """One generated file and the rows its ingest must produce."""

    path: str
    text_chunks: int
    images: int


@dataclass
class Corpus:
    """A generated corpus: batch folders and their files."""

    batches: list[str] = field(default_factory=list)
    files: dict[str, list[FileSpec]] = field(default_factory=dict)

    def expected(self, batches: list[str] | None = None) -> dict[str, int]:
        """Expected store rows by content type for the given batches."""
        specs = [s for b in (batches or self.batches) for s in self.files[b]]
        return {
            "text_chunk": sum(s.text_chunks for s in specs),
            "image": sum(s.images for s in specs),
        }


def _chunks(n_words: int) -> int:
    return -(-n_words // CHUNK_WORDS)


def _source_words() -> list[list[str]]:
    import pyarrow.parquet as pq

    texts = pq.read_table(DOCUMENTS, columns=["text"]).column("text").to_pylist()
    return [t.split() for t in texts]


def _passage(rng: random.Random, docs: list[list[str]], n: int) -> str:
    """`n` consecutive words from a random document and offset, running
    on into the following documents."""
    i = rng.randrange(len(docs))
    j = rng.randrange(len(docs[i]))
    words: list[str] = []
    while len(words) < n:
        words.extend(docs[i][j : j + n - len(words)])
        i, j = (i + 1) % len(docs), 0
    return " ".join(words)


def png_bytes(rng: random.Random, w: int = 8, h: int = 8) -> bytes:
    """A valid RGB PNG of random pixels (stdlib zlib + crc32)."""

    def chunk(kind: bytes, data: bytes) -> bytes:
        body = kind + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    raw = b"".join(
        b"\x00" + bytes(rng.randrange(256) for _ in range(3 * w)) for _ in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _pdf_escape(text: str) -> str:
    return text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def pdf_bytes(pages: list[str]) -> bytes:
    """A multi-page PDF with a classic xref table and one Helvetica text
    line per page; xref offsets are computed while emitting."""
    n = len(pages)
    page_ids = [3 + 2 * i for i in range(n)]
    font_id = 3 + 2 * n
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objs = [
        b"<</Type /Catalog /Pages 2 0 R>>",
        f"<</Type /Pages /Kids [{kids}] /Count {n}>>".encode(),
    ]
    for i, text in enumerate(pages):
        objs.append(
            (
                f"<</Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {page_ids[i] + 1} 0 R "
                f"/Resources <</Font <</F1 {font_id} 0 R>>>>>>"
            ).encode()
        )
        stream = f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET".encode()
        objs.append(b"<</Length %d>>\nstream\n%s\nendstream" % (len(stream), stream))
    objs.append(b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d /Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


_NS_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_NS_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_REL_IMAGE = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/image"
)


def _xfrm(x: int, y: int, cx: int, cy: int) -> str:
    return f'<a:xfrm><a:off x="{x}" y="{y}"/><a:ext cx="{cx}" cy="{cy}"/></a:xfrm>'


def pptx_bytes(slides: list[tuple[list[str], list[bytes]]]) -> bytes:
    """A .pptx zip: per slide, one text shape per string and one picture
    per PNG, each picture linked through the slide's relationships part
    to `ppt/media/`."""
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:

        def put(name: str, data) -> None:
            zf.writestr(zipfile.ZipInfo(name, _ZIP_TIME), data, zipfile.ZIP_DEFLATED)

        put(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
            'schemas.openxmlformats.org/package/2006/content-types"><Default '
            'Extension="png" ContentType="image/png"/></Types>',
        )
        media = 0
        for s, (texts, pngs) in enumerate(slides, start=1):
            shapes, rels = [], []
            sid = 1
            for i, text in enumerate(texts):
                sid += 1
                shapes.append(
                    f'<p:sp><p:nvSpPr><p:cNvPr id="{sid}" name="Text {sid}"/>'
                    f"</p:nvSpPr><p:spPr>{_xfrm(0, 900000 * i, 8000000, 800000)}"
                    f"</p:spPr><p:txBody><a:p><a:r><a:t>{text}</a:t></a:r></a:p>"
                    "</p:txBody></p:sp>"
                )
            for j, png in enumerate(pngs):
                sid += 1
                media += 1
                rid = f"rId{j + 1}"
                put(f"ppt/media/image{media}.png", png)
                rels.append(
                    f'<Relationship Id="{rid}" Type="{_REL_IMAGE}" '
                    f'Target="../media/image{media}.png"/>'
                )
                shapes.append(
                    f'<p:pic><p:nvPicPr><p:cNvPr id="{sid}" name="Picture {sid}"/>'
                    f'</p:nvPicPr><p:blipFill><a:blip r:embed="{rid}"/>'
                    f"</p:blipFill><p:spPr>{_xfrm(4000000, 900000 * j, 2000000, 2000000)}"
                    "</p:spPr></p:pic>"
                )
            put(
                f"ppt/slides/slide{s}.xml",
                f'<?xml version="1.0" encoding="UTF-8"?><p:sld xmlns:p="{_NS_P}" '
                f'xmlns:a="{_NS_A}" xmlns:r="{_NS_R}"><p:cSld><p:spTree>'
                + "".join(shapes)
                + "</p:spTree></p:cSld></p:sld>",
            )
            put(
                f"ppt/slides/_rels/slide{s}.xml.rels",
                f'<?xml version="1.0" encoding="UTF-8"?><Relationships '
                f'xmlns="{_NS_REL}">' + "".join(rels) + "</Relationships>",
            )
    return buf.getvalue()


def generate(root: str, seed: int, *, n_batches: int) -> Corpus:
    """Write `n_batches` folders under `root` (plus nothing else) and
    return the corpus description. Every file's bytes are distinct, so
    ingest's content-hash dedup never merges two generated files."""
    rng = random.Random(f"rag-corpus-{seed}")
    docs = _source_words()
    corpus = Corpus()
    for b in range(n_batches):
        folder = os.path.join(root, f"batch_{b:02d}")
        os.makedirs(folder, exist_ok=True)
        specs: list[FileSpec] = []
        for i in range(TEXT_FILES):
            ext = "md" if i % 2 else "txt"
            n = rng.randint(90, 260)
            path = os.path.join(folder, f"notes_{b}_{i}.{ext}")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(_passage(rng, docs, n))
            specs.append(FileSpec(path, _chunks(n), 0))
        for i in range(PDF_FILES):
            sizes = [rng.randint(30, 140) for _ in range(rng.randint(2, 3))]
            path = os.path.join(folder, f"report_{b}_{i}.pdf")
            with open(path, "wb") as fh:
                fh.write(pdf_bytes([_passage(rng, docs, n) for n in sizes]))
            specs.append(FileSpec(path, sum(_chunks(n) for n in sizes), 0))
        for i in range(PPTX_FILES):
            slides = [
                (
                    [_passage(rng, docs, rng.randint(3, 6)),
                     _passage(rng, docs, rng.randint(12, 40))],
                    [png_bytes(rng) for _ in range(rng.randint(1, 2))],
                )
                for _ in range(2)
            ]
            path = os.path.join(folder, f"deck_{b}_{i}.pptx")
            with open(path, "wb") as fh:
                fh.write(pptx_bytes(slides))
            specs.append(
                FileSpec(
                    path,
                    sum(len(t) for t, _ in slides),
                    sum(len(p) for _, p in slides),
                )
            )
        corpus.batches.append(folder)
        corpus.files[folder] = specs
    return corpus

