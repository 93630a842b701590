"""Seeded writer of small real-dialect binary PDFs for the benchmark.

Every page is one ``BT ... ET`` block with one ``Tm``/``Tj`` pair per text
line on a descending baseline, so the text a reader must extract is the
generator's lines joined by ``"\\n"``. Four dialects:

- ``simple``: a standard Type1 font (Helvetica), classic xref table;
- ``type0``: a Type0 ``/Identity-H`` font over a CIDFontType2 with a
  ``/ToUnicode`` CMap, two-byte hex strings, classic xref table;
- ``xrefstm``: simple font, a cross-reference stream, and every
  non-stream object packed into one object stream;
- ``cycle``: simple font, but each page's ``/Parent`` leads into two
  box-less ``/Pages`` nodes that point at each other. A reader must stop
  the inherited-box walk and fall back to the LETTER box; the text is
  unaffected.
"""

from __future__ import annotations

import random
import zlib

WORDS = (
    "ledger quorum sample vector parquet spill gather window anchor cursor "
    "replica column stream buffer commit bloom shard codec record frame "
    "leader worker offset lattice kernel hash sort merge batch token"
).split()


def page_lines(rng: random.Random, n_lines: int) -> list[str]:
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 9)))
        for _ in range(n_lines)
    ]


def content(lines: list[str], two_byte: bool) -> bytes:
    ops = [b"BT /F1 9 Tf"]
    y = 760
    for line in lines:
        if two_byte:
            s = b"<" + "".join(f"{ord(c):04X}" for c in line).encode() + b">"
        else:
            s = b"(" + line.encode() + b")"
        ops.append(b"1 0 0 1 72 %d Tm %s Tj" % (y, s))
        y -= 12
    ops.append(b"ET")
    return b"\n".join(ops)


def _stream(body: bytes, extra: bytes = b"") -> bytes:
    comp = zlib.compress(body)
    return (b"<< /Length %d /Filter /FlateDecode%s >>\nstream\n" % (len(comp), extra)
            + comp + b"\nendstream")


_TOUNICODE = (
    b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
    b"/CMapName /Bench-UCS def\n/CMapType 2 def\n"
    b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
    b"1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\n"
    b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
)


def build(dialect: str, pages: list[list[str]]) -> bytes:
    """Serialize one document of the given dialect whose page ``i`` shows
    ``pages[i]``."""
    objs: dict[int, bytes] = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}

    def add(body: bytes) -> int:
        objs[len(objs) + 2] = body  # object 2 (the page tree) comes last
        return len(objs) + 1

    if dialect == "type0":
        cmap = add(_stream(_TOUNICODE))
        cid = add(b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /BenchSans "
                  b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
                  b"/Supplement 0 >> /DW 500 "
                  b"/FontDescriptor << /Type /FontDescriptor "
                  b"/FontName /BenchSans /Flags 32 >> >>")
        font = add(b"<< /Type /Font /Subtype /Type0 /BaseFont /BenchSans "
                   b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
                   b"/ToUnicode %d 0 R >>" % (cid, cmap))
    else:
        font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    parent = 2
    if dialect == "cycle":
        # two box-less /Pages nodes that are each other's /Parent
        a, b = len(objs) + 2, len(objs) + 3
        add(b"<< /Type /Pages /Parent %d 0 R /Count 0 /Kids [] >>" % b)
        add(b"<< /Type /Pages /Parent %d 0 R /Count 0 /Kids [] >>" % a)
        parent = a
    kids = []
    for lines in pages:
        cnum = add(_stream(content(lines, dialect == "type0")))
        kids.append(b"%d 0 R" % add(
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
            b"/Resources << /Font << /F1 %d 0 R >> >> >>"
            % (parent, cnum, font)))
    info = add(b"<< /Producer (%s) /Title (%s) >>" % tuple(
        v.encode() for v in info_dict(dialect).values()))
    box = b"" if dialect == "cycle" else b" /MediaBox [0 0 612 792]"
    objs[2] = b"<< /Type /Pages /Kids [%s] /Count %d%s >>" % (
        b" ".join(kids), len(pages), box)
    if dialect == "xrefstm":
        return _serialize_xref_stream(objs, info)
    return _serialize_classic(objs, info)


def _serialize_classic(objs: dict[int, bytes], info: int) -> bytes:
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objs[num])
    size = max(objs) + 1
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (size, info, xref))
    return bytes(out)


def _serialize_xref_stream(objs: dict[int, bytes], info: int) -> bytes:
    # non-stream objects go into one object stream; streams stay top-level
    packed = [n for n in sorted(objs) if b"stream\n" not in objs[n]]
    loose = [n for n in sorted(objs) if n not in packed]
    stm_num = max(objs) + 1
    xref_num = stm_num + 1
    header, body = [], bytearray()
    for n in packed:
        header.append(b"%d %d" % (n, len(body)))
        body += objs[n] + b"\n"
    head = b" ".join(header) + b"\n"
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for n in loose:
        offsets[n] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (n, objs[n])
    offsets[stm_num] = len(out)
    out += b"%d 0 obj\n%s\nendobj\n" % (stm_num, _stream(
        head + bytes(body),
        b" /Type /ObjStm /N %d /First %d" % (len(packed), len(head))))
    offsets[xref_num] = len(out)
    rows = bytearray(b"\x00\x00\x00\x00\x00\xff\xff")
    index = {n: i for i, n in enumerate(packed)}
    for n in range(1, xref_num + 1):
        if n in index:
            rows += bytes([2]) + stm_num.to_bytes(4, "big") + index[n].to_bytes(2, "big")
        else:
            rows += bytes([1]) + offsets[n].to_bytes(4, "big") + b"\x00\x00"
    out += b"%d 0 obj\n%s\nendobj\n" % (xref_num, _stream(
        bytes(rows),
        b" /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R /Info %d 0 R"
        % (xref_num + 1, info)))
    out += b"startxref\n%d\n%%%%EOF\n" % offsets[xref_num]
    return bytes(out)


def info_dict(dialect: str) -> dict:
    """The document information dictionary written for a dialect."""
    return {"Producer": "perfbench", "Title": f"bench {dialect}"}


def expected_text(page_texts: list[str]) -> str:
    """The document text a pdf-parse reader returns: every page's text led
    by a blank-line separator."""
    return "".join("\n\n" + t for t in page_texts)
