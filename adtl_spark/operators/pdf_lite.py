"""Dependency-free PDF text extraction (+ a fixture-grade writer).

Written to the public PDF 1.7 specification (ISO 32000-1) — no
reference-repo counterpart exists (adtl has no document handling; this
is extension surface: PDF is a major source format for training-data
pipelines, and text extraction is the ingestion step).

Extractor scope (the "simple born-digital PDF" class):
* object scan (``N G obj``..``endobj``), classic xref NOT required —
  robust to appended/linearized files because objects are located
  directly
* stream payloads cut by ``/Length`` — direct integers immediately,
  indirect ``N 0 R`` references resolved against the completed object
  table in a second pass (so a payload containing literal
  ``endstream`` bytes cannot truncate the extent) — with ``endstream``
  search as the no-/Length degraded path; ``/FlateDecode`` inflated
  with zlib (stdlib), identity streams passed through
* page ORDER from the ``/Root`` → ``/Pages`` → ``/Kids`` tree walk
  (depth-first, the spec's page ordering), falling back to document
  order when the tree is absent/broken
* content-stream text operators: ``Tj``, ``'``, ``"``, ``TJ`` arrays
  (kerning numbers ignored), literal strings with all escape forms
  (named, octal, line continuation, balanced nested parens) and hex
  strings; ``Td``/``TD``/``T*`` break lines
* MODERN LAYOUTS (PDF 1.5+, the default every current producer
  emits): cross-reference STREAMS (``/Type /XRef``, W-array field
  decoding, ``/Index`` subsections, PNG up/sub predictors via
  ``/DecodeParms``) and object streams (``/Type /ObjStm`` — non-stream
  objects packed into one compressed stream) both parse; ObjStm
  members are inflated into the object table, with the xref stream's
  type-2 entries deciding liveness against stale top-level versions
  from incremental updates (multiple xref streams merge newest-first
  by ``/Size``, the practical stand-in for the ``/Prev`` chain once
  byte offsets are abstracted away by the direct object scan)
* ENCRYPTED files with the standard security handler and an empty
  user password decrypt natively across all four handler generations
  (RC4-40 V1/R2, RC4-128 V2/R3, AES-128 /AESV2 V4/R4, AES-256 /AESV3
  V5/R6 — see :mod:`adtl_spark.operators.pdf_crypt`); genuinely
  password-protected files raise NotImplementedError by name.
  CID/Type0 composite fonts and ToUnicode CMaps remain out of scope
  and raise/degrade loudly (documented), not silently

The writers emit spec-valid PDFs so fixtures are real files any PDF
reader opens: :func:`build_pdf` the classic layout (correct xref
table offsets, trailer, page tree, Flate-compressed content),
:func:`build_pdf_modern` the PDF-1.5 layout (page tree and catalog
inside an ObjStm, xref stream with PNG Predictor-12 rows — the
structure pdftex/word/chrome produce).  Per-payload Python meant for
Arrow ``mapInPandas`` batches, like the repo's other codecs; swap-in
point for pdfium/poppler in production is the single ``pdf_pages``
call site.
"""

from __future__ import annotations

import re
import struct
import zlib

__all__ = ["pdf_pages", "pdf_text", "build_pdf", "build_pdf_modern"]

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_LENGTH_IND_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R\b")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_TYPE_PAGES_RE = re.compile(rb"/Type\s*/Pages\b")
_TYPE_CATALOG_RE = re.compile(rb"/Type\s*/Catalog\b")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_FLATE_RE = re.compile(rb"/Filter\s*/FlateDecode\b")
_ENCRYPT_RE = re.compile(rb"/Encrypt\b")
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R\b")
_STD_FILTER_RE = re.compile(rb"/Filter\s*/Standard\b")
_V_RE = re.compile(rb"/V\s+(\d+)")
_R_RE = re.compile(rb"/R\s+(\d+)")
_P_RE = re.compile(rb"/P\s+(-?\d+)")
_KEYLEN_RE = re.compile(rb"/Length\s+(\d+)")
_STMF_IDENTITY_RE = re.compile(rb"/StmF\s*/Identity\b")
_CFM_AES_RE = re.compile(rb"/CFM\s*/AESV2\b")
_CFM_V2_RE = re.compile(rb"/CFM\s*/V2\b")
_ENC_META_FALSE_RE = re.compile(rb"/EncryptMetadata\s+false\b")
_ID_RE = re.compile(rb"/ID\s*\[\s*(<[0-9A-Fa-f\s]*>|\((?:[^\\()]|\\.)*\))")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONT_ENTRY_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<")
_TYPE_XREF_RE = re.compile(rb"/Type\s*/XRef\b")
_TYPE_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_W_RE = re.compile(rb"/W\s*\[([^\]]*)\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_NMEMB_RE = re.compile(rb"/N\s+(\d+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")


def _scan_objects(
    payload: bytes,
    unresolved: list | None = None,
    decryptor=None,
) -> dict[int, tuple[bytes, bytes | None]]:
    """Map object number -> (dict/body bytes, decoded stream bytes or
    None).  Objects are located by direct scan, so damaged or appended
    xref tables don't matter.

    Stream bytes are never re-scanned: a spurious ``N G obj`` byte
    pattern INSIDE a stream (routine in Flate output) must not clobber
    a real object of the same number, so matches falling inside an
    already-parsed object's extent are skipped, and when ``/Length`` is
    a direct integer the object's extent jumps OVER the stream data —
    an ``endobj`` byte pattern inside the stream can't truncate it
    either.  INDIRECT lengths (``/Length N 0 R`` — routine in
    incrementally-written real-world files, where the producer only
    knows the byte count after the stream is out) resolve in a second
    pass against the completed object table, and only then does the
    extent-sensitive Flate inflate run; the ``endstream`` search is the
    first-pass placeholder and the no-/Length degraded path."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    pending: list[tuple] = []  # indirect lengths: (num, gen, start, ref, head)
    guard = 0  # first byte past the last fully-parsed object's extent
    for m in _OBJ_RE.finditer(payload):
        if m.start() < guard:
            continue  # inside a previous object (usually its stream bytes)
        num, gen = int(m.group(1)), int(m.group(2))
        start = m.end()
        end = payload.find(b"endobj", start)
        if end < 0:
            continue
        stream = None
        deferred = False
        sm = re.compile(rb"stream\r?\n").search(payload, start, end)
        if sm is not None:
            head = payload[start : sm.start()]
            data_start = sm.end()
            lm = _LENGTH_RE.search(head)
            im = _LENGTH_IND_RE.search(head)
            if lm is not None:
                data_end = data_start + int(lm.group(1))
                raw = payload[data_start:data_end]
                # the true endobj is past the stream: re-locate so a
                # payload containing 'endobj' bytes can't cut the extent
                true_end = payload.find(b"endobj", data_end)
                end = true_end if true_end >= 0 else max(end, data_end)
            else:
                send = payload.find(b"endstream", data_start, end)
                raw = payload[data_start : send if send >= 0 else end]
                # the spec puts exactly ONE EOL before `endstream`;
                # rstrip of ALL trailing CR/LF would eat real stream
                # bytes whenever the payload itself ends in 0x0a/0x0d
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith((b"\n", b"\r")):
                    raw = raw[:-1]
                if im is not None:
                    # indirect length: the extent above is provisional;
                    # resolve + inflate in the second pass
                    pending.append(
                        (num, gen, data_start, int(im.group(1)), head)
                    )
                    deferred = True
            if deferred:
                stream = raw  # placeholder, replaced in pass 2
            else:
                stream = _finish_stream(raw, head, num, gen, decryptor)
            body = head
        else:
            body = payload[start:end]
        guard = end + len(b"endobj")
        # latest definition wins (incremental updates append new versions)
        objects[num] = (body, stream)
    for num, gen, data_start, ref, head in pending:
        raw = objects[num][1]
        resolved = False
        if ref in objects:
            lbody = objects[ref][0].strip()
            if lbody.isdigit():
                raw = payload[data_start : data_start + int(lbody)]
                resolved = True
        if not resolved and unresolved is not None:
            # the length object may live inside an object stream (real
            # generators emit this) — defer: keep the provisional
            # (endstream-cut) RAW bytes and let the caller retry via
            # _resolve_pending_lengths after ObjStm expansion
            unresolved.append((num, gen, data_start, ref, head))
            continue
        objects[num] = (
            objects[num][0], _finish_stream(raw, head, num, gen, decryptor)
        )
    return objects


def _inflate_if_flate(raw: bytes, head: bytes, num: int) -> bytes:
    if _FLATE_RE.search(head):
        try:
            return zlib.decompress(raw)
        except zlib.error as e:
            raise ValueError(f"PDF: bad Flate stream in obj {num}: {e}")
    return raw


def _finish_stream(raw, head, num, gen, decryptor):
    """Decrypt-then-inflate: encryption applies to the RAW stream bytes
    (before any /Filter), and cross-reference streams are NEVER
    encrypted (ISO 32000-1 §7.5.8.2 — the reader needs them before it
    can know the key)."""
    if decryptor is not None and not _TYPE_XREF_RE.search(head):
        raw = decryptor(num, gen, raw)
    return _inflate_if_flate(raw, head, num)


def _resolve_pending_lengths(
    objects: dict[int, tuple[bytes, bytes | None]],
    pending: list,
    payload: bytes,
    decryptor=None,
) -> None:
    """Third pass over indirect ``/Length`` refs that pass 2 could not
    resolve against TOP-LEVEL objects: after object-stream expansion
    the referenced integer may have appeared as an ObjStm member —
    re-cut the stream to its true extent and inflate.  Refs that are
    still missing fall back to the provisional endstream-cut extent
    (the same degraded path a direct no-/Length stream takes)."""
    for num, gen, data_start, ref, head in pending:
        raw = objects[num][1]
        if ref in objects:
            lbody = objects[ref][0].strip()
            if lbody.isdigit():
                raw = payload[data_start : data_start + int(lbody)]
        objects[num] = (
            objects[num][0], _finish_stream(raw, head, num, gen, decryptor)
        )


def _png_unpredict(data: bytes, columns: int, predictor: int) -> bytes:
    """Undo the PNG row predictors (/DecodeParms /Predictor >= 10) a
    producer may apply to an xref stream's rows: each row is one filter
    byte + ``columns`` data bytes.  Only filters None(0), Sub(1) and
    Up(2) appear in practice for xref data (byte-aligned integer
    columns); Average/Paeth decode too for completeness — the algorithm
    is the PNG spec's, one pass, previous row retained."""
    if predictor < 10:
        if predictor in (0, 1):
            return data
        raise NotImplementedError(f"/Predictor {predictor} (TIFF) unsupported")
    row_len = columns + 1
    if len(data) % row_len:
        raise ValueError("xref stream predictor rows misaligned")
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data), row_len):
        ftype = data[r]
        row = bytearray(data[r + 1 : r + row_len])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype} in xref stream")
        out += row
        prev = row
    return bytes(out)


def _decode_xref_stream(body: bytes, stream: bytes) -> dict[int, tuple]:
    """Decode one xref STREAM's entry table (ISO 32000-1 §7.5.8): the
    /W array gives the three field widths (a zero width means the
    field defaults — type defaults to 1), /Index the (start, count)
    subsections (default [0 /Size]).  Returns object number ->
    (type, field2, field3): type 1 = top-level at byte offset field2,
    type 2 = member field3 of object stream field2, type 0 = free."""
    wm = _W_RE.search(body)
    sm = _SIZE_RE.search(body)
    if wm is None or sm is None:
        raise ValueError("xref stream missing /W or /Size")
    w = [int(x) for x in wm.group(1).split()]
    if len(w) != 3:
        raise ValueError(f"xref stream /W has {len(w)} fields, expected 3")
    size = int(sm.group(1))
    im = _INDEX_RE.search(body)
    idx = [int(x) for x in im.group(1).split()] if im else [0, size]
    pm = _PREDICTOR_RE.search(body)
    if pm is not None:
        cm = _COLUMNS_RE.search(body)
        stream = _png_unpredict(
            stream, int(cm.group(1)) if cm else 1, int(pm.group(1))
        )
    row_len = sum(w)
    entries: dict[int, tuple] = {}
    pos = 0
    for start, count in zip(idx[0::2], idx[1::2]):
        for i in range(count):
            row = stream[pos : pos + row_len]
            if len(row) < row_len:
                raise ValueError("xref stream entry table truncated")
            pos += row_len
            fields = []
            o = 0
            for width in w:
                fields.append(
                    int.from_bytes(row[o : o + width], "big") if width else None
                )
                o += width
            t = fields[0] if w[0] else 1  # §7.5.8.3: missing type means 1
            entries[start + i] = (t, fields[1], fields[2])
    return entries


def _parse_objstm(body: bytes, stream: bytes) -> list[tuple[int, bytes]]:
    """Split an object stream (/Type /ObjStm) into its member objects:
    the first /First bytes hold /N (objnum, offset) integer pairs;
    each member's bytes run from /First + offset to the next member's
    start (the members are plain dicts/arrays — the spec forbids
    streams inside an ObjStm)."""
    nm, fm = _NMEMB_RE.search(body), _FIRST_RE.search(body)
    if nm is None or fm is None:
        raise ValueError("ObjStm missing /N or /First")
    n, first = int(nm.group(1)), int(fm.group(1))
    header = stream[:first].split()
    if len(header) < 2 * n:
        raise ValueError("ObjStm header shorter than /N pairs")
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
    ]
    out = []
    for i, (num, off) in enumerate(pairs):
        end = first + pairs[i + 1][1] if i + 1 < n else len(stream)
        out.append((num, stream[first + off : end]))
    return out


def _expand_object_streams(
    objects: dict[int, tuple[bytes, bytes | None]],
) -> dict[int, tuple[bytes, bytes | None]]:
    """Inflate every ObjStm member into the object table.  Liveness:
    a top-level (direct-scan) definition wins UNLESS a cross-reference
    stream's type-2 entry names the ObjStm copy as live (the
    incremental-update case where an appended xref re-routes an object
    into a new ObjStm).  Multiple xref streams merge newest-first by
    /Size — the byte-offset /Prev chain is meaningless after a direct
    object scan, and a newer update's /Size is never smaller."""
    xref_entries: dict[int, tuple] = {}
    xrefs = []
    for num, (body, stream) in objects.items():
        if _TYPE_XREF_RE.search(body) and stream is not None:
            sm = _SIZE_RE.search(body)
            xrefs.append((int(sm.group(1)) if sm else 0, body, stream))
    for _size, body, stream in sorted(xrefs, key=lambda t: -t[0]):
        # a malformed or unsupported xref stream (missing /W or /Size,
        # TIFF predictor, truncated table) must not abort extraction:
        # xref streams are consulted only for ObjStm LIVENESS here, so
        # the right degraded behavior is to skip it and fall back to
        # the no-xref rule (top-level definition wins)
        try:
            decoded = _decode_xref_stream(body, stream)
        except (ValueError, NotImplementedError):
            continue
        for num, entry in decoded.items():
            xref_entries.setdefault(num, entry)  # newest-first: first wins
    for num, (body, stream) in list(objects.items()):
        if stream is not None and _TYPE_OBJSTM_RE.search(body):
            try:
                parsed = _parse_objstm(body, stream)
            except ValueError:
                continue  # malformed ObjStm: keep its top-level siblings
            for onum, obody in parsed:
                entry = xref_entries.get(onum)
                live_here = entry is not None and entry[0] == 2 and entry[1] == num
                if onum not in objects or live_here:
                    objects[onum] = (obody, None)
    return objects


def _unescape_literal_bytes(raw: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(raw)
    named = {
        ord("n"): 0x0A, ord("r"): 0x0D, ord("t"): 0x09,
        ord("b"): 0x08, ord("f"): 0x0C,
        ord("("): 0x28, ord(")"): 0x29, ord("\\"): 0x5C,
    }
    while i < n:
        c = raw[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i]
        if c in named:
            out.append(named[c])
            i += 1
        elif 0x30 <= c <= 0x37:  # octal, up to 3 digits
            j = i
            while j < min(i + 3, n) and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif c in (0x0A, 0x0D):  # line continuation
            i += 1
            if c == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:  # unknown escape: spec says drop the backslash
            out.append(c)
            i += 1
    return bytes(out)


_BFCHAR_RE = re.compile(
    rb"beginbfchar(.*?)endbfchar", re.S
)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(
    rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S
)


def _parse_tounicode(cmap: bytes) -> tuple[int, dict[int, str]]:
    """Parse a /ToUnicode CMap stream (Adobe CMap syntax, the subset
    every generator emits) into (code byte length, code -> text map).
    ``bfchar`` pairs map single codes; ``bfrange`` maps either a
    consecutive block onto a Unicode start or onto an explicit array.
    Destination hex is UTF-16BE and may be multi-codepoint (ligature
    expansions like fi -> 'fi')."""
    m = _CODESPACE_RE.search(cmap)
    nbytes = len(m.group(1)) // 2 if m else 2
    out: dict[int, str] = {}

    def utext(hx: bytes) -> str:
        return bytes.fromhex(hx.decode("ascii")).decode(
            "utf-16-be", "replace"
        )

    for block in _BFCHAR_RE.findall(cmap):
        toks = _HEXTOK_RE.findall(block)
        for k in range(0, len(toks) - 1, 2):
            out[int(toks[k], 16)] = utext(toks[k + 1])
    for block in _BFRANGE_RE.findall(cmap):
        # entries are <lo> <hi> <dst>  OR  <lo> <hi> [<d0> <d1> ...]
        i = 0
        while True:
            mlo = _HEXTOK_RE.search(block, i)
            if mlo is None:
                break
            mhi = _HEXTOK_RE.search(block, mlo.end())
            if mhi is None:
                break
            lo, hi = int(mlo.group(1), 16), int(mhi.group(1), 16)
            # array form?
            rest = block[mhi.end():].lstrip()
            if rest.startswith(b"["):
                close = block.find(b"]", mhi.end())
                arr = _HEXTOK_RE.findall(block[mhi.end() : close])
                for k, dh in enumerate(arr):
                    if lo + k <= hi:
                        out[lo + k] = utext(dh)
                i = close + 1
                continue
            mdst = _HEXTOK_RE.search(block, mhi.end())
            if mdst is None:
                break
            base_hex = mdst.group(1)
            base = int(base_hex, 16)
            # consecutive mapping increments the LAST code unit
            width = len(base_hex) // 2
            for k in range(hi - lo + 1):
                out[lo + k] = (
                    (base + k).to_bytes(max(width, 2), "big")
                    .decode("utf-16-be", "replace")
                )
            i = mdst.end()
    return nbytes, out


# Adobe Glyph List subset: the names real /Differences arrays use.
# One-char names (A-Z, a-z) and the uniXXXX / uXXXXXX algorithmic
# rules are handled in _glyph_to_unicode; this table covers the
# multi-char names for ASCII punctuation, digits and the common
# Latin-1/typographic set.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "Euro": "€", "bullet": "•", "emdash": "—",
    "endash": "–", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "trademark": "™",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "micro": "µ", "paragraph": "¶",
    "periodcentered": "·", "cent": "¢", "sterling": "£",
    "yen": "¥", "section": "§", "exclamdown": "¡",
    "questiondown": "¿", "florin": "ƒ", "fi": "ﬁ",
    "fl": "ﬂ", "oe": "œ", "OE": "Œ", "ae": "æ",
    "AE": "Æ", "oslash": "ø", "Oslash": "Ø",
    "germandbls": "ß", "dotlessi": "ı",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ccedilla": "ç", "egrave": "è", "eacute": "é",
    "ecircumflex": "ê", "edieresis": "ë", "igrave": "ì",
    "iacute": "í", "icircumflex": "î", "idieresis": "ï",
    "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "ydieresis": "ÿ",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Ccedilla": "Ç", "Egrave": "È", "Eacute": "É",
    "Ntilde": "Ñ", "Odieresis": "Ö", "Udieresis": "Ü",
}


def _glyph_to_unicode(name: str) -> str | None:
    """AGL resolution: table names, one-char names, and the
    ``uniXXXX`` / ``uXXXX[XX]`` algorithmic forms."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name
    if name.startswith("uni") and len(name) >= 7:
        try:
            return "".join(
                chr(int(name[k : k + 4], 16))
                for k in range(3, len(name) - 3, 4)
            )
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


_ENC_NAME_RE = re.compile(
    rb"/Encoding\s*/(WinAnsiEncoding|MacRomanEncoding|StandardEncoding)"
)
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENC_DICT_RE = re.compile(rb"/Encoding\s*<<")
_BASE_ENC_RE = re.compile(
    rb"/BaseEncoding\s*/(WinAnsiEncoding|MacRomanEncoding|StandardEncoding)"
)
_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([^\s/\[\]<>()]+)")


def _base_encoding_map(name: bytes) -> dict[int, str]:
    """Full 0-255 table for a named simple-font base encoding.
    WinAnsi IS cp1252 (the PDF spec says so); MacRoman is the
    mac-roman codec; Standard's printable ASCII run matches latin-1
    closely enough for extraction (its typographic slots are exactly
    what /Differences overrides in practice)."""
    codec = {
        b"WinAnsiEncoding": "cp1252",
        b"MacRomanEncoding": "mac_roman",
        b"StandardEncoding": "latin-1",
    }[name]
    out = {}
    for c in range(256):
        try:
            out[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            out[c] = chr(c)  # undefined slot: latin-1 passthrough
    return out


def _simple_font_map(objects: dict, fbody: bytes) -> dict[int, str] | None:
    """(code -> text) for a simple font that declares /Encoding but no
    /ToUnicode: named base encoding, indirect or inline encoding dict
    with /BaseEncoding + /Differences (ints set the next code, names
    consume consecutive codes; unknown glyph names become U+FFFD so
    extraction gaps stay visible)."""
    m = _ENC_NAME_RE.search(fbody)
    if m is not None:
        return _base_encoding_map(m.group(1))
    ebody = None
    rm = _ENC_REF_RE.search(fbody)
    if rm is not None and int(rm.group(1)) in objects:
        ebody = objects[int(rm.group(1))][0]
    elif _ENC_DICT_RE.search(fbody) is not None:
        ebody = fbody[_ENC_DICT_RE.search(fbody).end() - 2 :]
    if ebody is None:
        return None
    bm = _BASE_ENC_RE.search(ebody)
    table = _base_encoding_map(bm.group(1) if bm else b"StandardEncoding")
    dm = _DIFF_RE.search(ebody)
    if dm is not None:
        code = 0
        for num, glyph in _DIFF_TOK_RE.findall(dm.group(1)):
            if num:
                code = int(num)
            else:
                table[code] = _glyph_to_unicode(
                    glyph.decode("latin-1")
                ) or "�"
                code += 1
    return table


def _page_fonts(objects: dict, body: bytes, *extra: bytes) -> dict:
    """Resolve a page's /Resources /Font entries (inline dict or an
    indirect /Resources object; ``extra`` bodies — the /Pages node —
    are fallbacks for inherited resources) into the name ->
    (code_bytes, tounicode_map) dict :func:`_content_text` consumes.
    Fonts WITHOUT a /ToUnicode CMap keep the latin-1 passthrough
    (simple fonts), so classic fixtures are byte-identical."""
    srcs = [body]
    rm = _RESOURCES_REF_RE.search(body)
    if rm is not None and int(rm.group(1)) in objects:
        srcs.append(objects[int(rm.group(1))][0])
    srcs.extend(extra)
    fonts: dict = {}
    for src in srcs:
        fm = _FONT_DICT_RE.search(src)
        if fm is None:
            continue
        depth, k = 1, fm.end()
        while k < len(src) and depth:
            if src[k : k + 2] == b"<<":
                depth += 1
                k += 2
            elif src[k : k + 2] == b">>":
                depth -= 1
                k += 2
            else:
                k += 1
        region = src[fm.end() : k]
        for name, ref in _FONT_ENTRY_RE.findall(region):
            ref = int(ref)
            if ref not in objects:
                continue
            key = name.decode("latin-1")
            if key in fonts:
                continue
            fbody = objects[ref][0]
            tm = _TOUNICODE_RE.search(fbody)
            if tm is not None:
                tref = int(tm.group(1))
                if tref in objects and objects[tref][1] is not None:
                    fonts[key] = _parse_tounicode(objects[tref][1])
                    continue
            smap = _simple_font_map(objects, fbody)
            if smap is not None:
                fonts[key] = (1, smap)
    return fonts


def _decode_shown(raw: bytes, font) -> str:
    """Decode a shown string under the ACTIVE font: CID fonts map
    fixed-width codes through their ToUnicode CMap (unmapped codes
    become U+FFFD — visible, not silently dropped); simple fonts keep
    the historical latin-1 passthrough."""
    if font is None:
        return raw.decode("latin-1")
    nbytes, cmap = font
    out = []
    for k in range(0, len(raw) - nbytes + 1, nbytes):
        code = int.from_bytes(raw[k : k + nbytes], "big")
        out.append(cmap.get(code, "�"))
    return "".join(out)


def _content_text(stream: bytes, fonts: dict | None = None) -> str:
    """Walk a content stream's tokens; text-showing operators append,
    Td/TD/T* start a new line.  Balanced-paren literal strings (with
    escapes) and hex strings are lexed exactly; everything else is
    whitespace-split operator soup we only inspect for the few
    operators that matter.  ``fonts`` maps resource names (``F1``) to
    ``(code_bytes, tounicode_map)`` for CID/Type0 fonts — ``/Fx .. Tf``
    switches the active decoding; simple fonts decode as before."""
    lines: list[str] = [""]
    i, n = 0, len(stream)
    pending: list[str] = []  # strings shown since the last operator test
    fonts = fonts or {}
    active = None  # (nbytes, map) of the current CID font, else None
    last_name = None

    def newline():
        if lines[-1] != "":
            lines.append("")

    while i < n:
        c = stream[i]
        if c == 0x28:  # ( literal string
            depth, j = 1, i + 1
            buf = bytearray()
            while j < n and depth:
                b = stream[j]
                if b == 0x5C and j + 1 < n:
                    buf += stream[j : j + 2]
                    j += 2
                    continue
                if b == 0x28:
                    depth += 1
                elif b == 0x29:
                    depth -= 1
                    if depth == 0:
                        break
                buf.append(b)
                j += 1
            pending.append(
                _decode_shown(_unescape_literal_bytes(bytes(buf)), active)
            )
            i = j + 1
            continue
        if c == 0x3C and i + 1 < n and stream[i + 1] != 0x3C:  # <hex>
            j = stream.find(b">", i)
            j = n if j < 0 else j
            hx = re.sub(rb"\s", b"", stream[i + 1 : j])
            if len(hx) % 2:
                hx += b"0"
            pending.append(
                _decode_shown(bytes.fromhex(hx.decode("ascii")), active)
            )
            i = j + 1
            continue
        if c == 0x5B or c == 0x5D or c == 0x3C or c == 0x3E:
            i += 1
            continue
        if chr(c).isspace():
            i += 1
            continue
        # read a bare token (operator, name, or number)
        j = i
        while j < n and not chr(stream[j]).isspace() and stream[j] not in (
            0x28, 0x5B, 0x5D, 0x3C, 0x3E, 0x2F,
        ):
            j += 1
        if j == i:  # lone delimiter such as '/'
            j = i + 1
            while j < n and not chr(stream[j]).isspace() and stream[j] not in (
                0x28, 0x5B, 0x5D, 0x3C, 0x3E, 0x2F,
            ):
                j += 1
        tok = stream[i:j]
        i = j
        if tok[:1] == b"/":
            last_name = tok[1:].decode("latin-1")
        elif tok == b"Tf":
            active = fonts.get(last_name)
        if tok in (b"Tj", b"TJ"):
            lines[-1] += "".join(pending)
            pending.clear()
        elif tok == b"'":
            newline()
            lines[-1] += "".join(pending)
            pending.clear()
        elif tok == b'"':
            newline()
            lines[-1] += "".join(pending[2:] or pending)
            pending.clear()
        elif tok in (b"Td", b"TD", b"T*"):
            pending.clear()
            newline()
        elif tok in (b"BT", b"ET"):
            pending.clear()
    return "\n".join(lines).strip("\n")


def _string_bytes_after(body: bytes, key: bytes) -> bytes | None:
    """The BYTE value of a ``/Key (literal)`` or ``/Key <hex>`` entry —
    /O and /U are 32 random bytes, so the str-returning content-lexer
    unescape cannot be reused here."""
    m = re.search(key + rb"\s*(\(|<)", body)
    if m is None:
        return None
    i = m.end() - 1
    if body[i : i + 1] == b"<":
        j = body.find(b">", i)
        hexs = re.sub(rb"\s", b"", body[i + 1 : j])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))
    # literal string: balanced parens, backslash escapes
    depth, j = 1, i + 1
    out = bytearray()
    n = len(body)
    while j < n and depth:
        c = body[j]
        if c == 0x5C and j + 1 < n:  # backslash
            nxt = body[j + 1]
            named = {
                ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8,
                ord("f"): 12, ord("("): 40, ord(")"): 41, ord("\\"): 92,
            }
            if nxt in named:
                out.append(named[nxt])
                j += 2
            elif 0x30 <= nxt <= 0x37:
                k = j + 1
                while k < min(j + 4, n) and 0x30 <= body[k] <= 0x37:
                    k += 1
                out.append(int(body[j + 1 : k], 8) & 0xFF)
                j = k
            else:
                out.append(nxt)
                j += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                break
        out.append(c)
        j += 1
    return bytes(out)


def _parse_encrypt(payload: bytes):
    """Build a per-object decryptor for a standard-security-handler
    file with an EMPTY user password (the restrict-printing case that
    dominates "encrypted" web PDFs) — RC4 (V1/V2 and V4 /V2 crypt
    filters), AES-128-CBC (/AESV2), and AES-256 (V5/R6 /AESV3, the
    SHA-2 Algorithm-2.B KDF).  Raises NotImplementedError by name for
    non-Standard handlers and files whose user password is genuinely
    non-empty."""
    from adtl_spark.operators.pdf_crypt import (
        aes_cbc_decrypt,
        check_empty_user_password,
        object_key,
        rc4,
    )

    refs = _ENCRYPT_REF_RE.findall(payload)
    if not refs:
        return None  # '/Encrypt' bytes without a trailer entry
    enc_num = int(refs[-1])  # last trailer wins (incremental updates)
    body = None
    for m in re.finditer(
        rb"(?<![0-9])%d\s+\d+\s+obj\b" % enc_num, payload
    ):
        end = payload.find(b"endobj", m.end())
        if end >= 0:
            body = payload[m.end() : end]
    if body is None:
        # the trailer names an /Encrypt dict we cannot locate: the file
        # IS encrypted and we cannot derive its key — same scope class
        # as an unsupported handler (round-12 pinned contract)
        raise NotImplementedError(
            "encrypted PDF: /Encrypt dictionary not found in the payload"
        )
    if not _STD_FILTER_RE.search(body):
        raise NotImplementedError(
            "only the /Standard PDF security handler is supported"
        )
    v = int(_V_RE.search(body).group(1)) if _V_RE.search(body) else 0
    r = int(_R_RE.search(body).group(1)) if _R_RE.search(body) else 2
    if v >= 5 or r >= 5:
        # AES-256 (R5 draft / R6 PDF 2.0): the file key comes from /UE
        # under the key-salt intermediate hash; content uses the file
        # key DIRECTLY (no per-object derivation)
        from adtl_spark.operators.pdf_crypt import (
            check_empty_user_password_r6,
        )

        u = _string_bytes_after(body, rb"/U")
        ue = _string_bytes_after(body, rb"/UE")
        if u is None or ue is None:
            raise ValueError("PDF /Encrypt (V5) missing /U or /UE")
        key = check_empty_user_password_r6(u, ue, r)
        if key is None:
            raise NotImplementedError(
                "password-protected PDF (non-empty user password)"
            )

        def decryptor_v5(num: int, gen: int, data: bytes) -> bytes:
            return aes_cbc_decrypt(key, data)

        return decryptor_v5
    pm = _P_RE.search(body)
    o = _string_bytes_after(body, rb"/O")
    u = _string_bytes_after(body, rb"/U")
    if pm is None or o is None or u is None:
        raise ValueError("PDF /Encrypt dictionary missing /O, /U or /P")
    p = int(pm.group(1))
    klm = _KEYLEN_RE.search(body)
    # /Length is bit-valued at the top level (40..128) but BYTE-valued
    # inside crypt-filter dicts ("/CFM /V2 /Length 16"); a V4 body may
    # only carry the latter, so values below 40 are already bytes
    kl = int(klm.group(1)) if klm else 40
    key_bytes = kl // 8 if kl >= 40 else kl
    aes = False
    if v == 4:
        if _STMF_IDENTITY_RE.search(body):
            # streams are NOT encrypted under /StmF /Identity; decrypting
            # them would turn plaintext into garbage
            return None
        if _CFM_AES_RE.search(body):
            aes = True
            key_bytes = 16
        elif not _CFM_V2_RE.search(body):
            raise NotImplementedError(
                "unsupported /V 4 crypt filter (not /V2 or /AESV2)"
            )
    encrypt_metadata = not _ENC_META_FALSE_RE.search(body)
    idm = None
    for idm in _ID_RE.finditer(payload):
        pass  # last /ID (newest trailer) wins
    file_id = (
        _string_bytes_after(b"/ID " + idm.group(1), rb"/ID")
        if idm is not None
        else b""
    )
    key = check_empty_user_password(
        o, u, p, file_id, r, key_bytes, encrypt_metadata
    )
    if key is None:
        raise NotImplementedError(
            "password-protected PDF (non-empty user password)"
        )

    def decryptor(num: int, gen: int, data: bytes) -> bytes:
        ok = object_key(key, num, gen, aes=aes)
        return aes_cbc_decrypt(ok, data) if aes else rc4(ok, data)

    return decryptor


def pdf_pages(payload: bytes) -> list[str]:
    """Extract per-page text from a simple PDF, in page-tree order.
    Standard-security-handler encryption with an EMPTY user password
    (RC4 / AESV2 / AES-256) decrypts natively; genuinely
    password-protected files raise NotImplementedError by name.
    Returns page texts with ``\\n`` between text lines."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    decryptor = (
        _parse_encrypt(payload) if _ENCRYPT_RE.search(payload) else None
    )
    pending: list = []
    objects = _expand_object_streams(
        _scan_objects(payload, pending, decryptor)
    )
    if pending:
        _resolve_pending_lengths(objects, pending, payload, decryptor)

    # page order: catalog -> /Pages -> depth-first /Kids
    ordered: list[int] = []

    def walk(num: int, seen: set[int]) -> None:
        if num in seen or num not in objects:
            return
        seen.add(num)
        body = objects[num][0]
        if _TYPE_PAGES_RE.search(body):
            km = _KIDS_RE.search(body)
            if km is not None:
                for rm in _REF_RE.finditer(km.group(1)):
                    walk(int(rm.group(1)), seen)
        elif _TYPE_PAGE_RE.search(body):
            ordered.append(num)

    root = None
    for num, (body, _s) in objects.items():
        if _TYPE_CATALOG_RE.search(body):
            pm = _PAGES_REF_RE.search(body)
            if pm is not None:
                root = int(pm.group(1))
    if root is not None:
        walk(root, set())
    if not ordered:  # fallback: document order
        ordered = [
            num
            for num, (body, _s) in sorted(objects.items())
            if _TYPE_PAGE_RE.search(body)
        ]

    pages = []
    # page-independent: scan the object table for /Type /Pages nodes ONCE,
    # not once per page (O(pages x objects) on large documents otherwise)
    parents = [
        b for _num2, (b, _s) in objects.items()
        if _TYPE_PAGES_RE.search(b)
    ]
    for num in ordered:
        body = objects[num][0]
        streams: list[bytes] = []
        cm = _CONTENTS_RE.search(body)
        ca = _CONTENTS_ARR_RE.search(body)
        refs = (
            [int(cm.group(1))]
            if cm is not None
            else [int(r.group(1)) for r in _REF_RE.finditer(ca.group(1))]
            if ca is not None
            else []
        )
        for r in refs:
            if r in objects and objects[r][1] is not None:
                streams.append(objects[r][1])
        pages.append(
            _content_text(
                b"".join(streams),
                fonts=_page_fonts(objects, body, *parents),
            )
        )
    return pages


def pdf_text(payload: bytes, page_sep: str = "\n") -> str:
    """All page texts joined by ``page_sep`` — the one-string form the
    documents-table ingestion path wants."""
    return page_sep.join(pdf_pages(payload))


def _escape_literal(s: str) -> str:
    return (
        s.replace("\\", r"\\")
        .replace("(", r"\(")
        .replace(")", r"\)")
        .replace("\n", r"\n")
        .replace("\r", r"\r")
        .replace("\t", r"\t")
    )


def _esc_str(s: bytes) -> bytes:
    """Escape arbitrary BYTES for a PDF literal string — /O, /U, /UE
    and friends are raw hash/cipher output."""
    return (
        s.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        .replace(b"\r", b"\\r")
    )


def build_pdf(
    pages: list[list],
    compress: bool = True,
    base_encoding: str | None = None,
    differences: list | None = None,
) -> bytes:
    """Write a spec-valid PDF: one content stream per page (each inner
    list is that page's text lines), Flate-compressed by default,
    correct xref table and trailer.  Fixture-side counterpart of
    :func:`pdf_pages` — any conformant viewer opens the output.

    ``base_encoding`` ("WinAnsiEncoding" / "MacRomanEncoding" /
    "StandardEncoding") and ``differences`` (the raw /Differences
    array: ints set the next code, glyph-name strings consume
    consecutive codes) write a simple-font /Encoding entry — the
    pre-ToUnicode layout older generators emit.  With an encoding in
    play, page lines may be BYTES (already font code units)."""
    objects: list[bytes] = []  # bodies, object number = index + 1
    npg = len(pages)
    page_nums = [4 + 2 * i for i in range(npg)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {npg} >>".encode()
    )
    enc = b""
    if differences is not None:
        parts = []
        for d in differences:
            parts.append(
                b"%d" % d if isinstance(d, int)
                else b"/" + str(d).encode("latin-1")
            )
        base = (
            b"/BaseEncoding /" + base_encoding.encode()
            if base_encoding else b""
        )
        enc = (
            b" /Encoding << %s /Differences [ %s ] >>"
            % (base, b" ".join(parts))
        )
    elif base_encoding is not None:
        enc = b" /Encoding /" + base_encoding.encode("latin-1")
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica%s >>" % enc
    )
    for i, lines in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append(b"0 -14 Td")
            raw = (
                line if isinstance(line, bytes)
                else _escape_literal(line).encode("latin-1")
            )
            if isinstance(line, bytes):
                raw = _esc_str(raw)
            ops.append(b"(" + raw + b") Tj")
        ops.append(b"ET")
        content = b" ".join(ops)
        filt = b""
        if compress:
            content = zlib.compress(content, 9)
            filt = b"/Filter /FlateDecode "
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (page_nums[i] + 1)
        )
        objects.append(
            b"<< %s/Length %d >>\nstream\n%s\nendstream"
            % (filt, len(content), content)
        )

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num
        out += body
        out += b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_off)
    )
    return bytes(out)


def build_pdf_cid(pages: list[list[str]], compress: bool = True) -> bytes:
    """Write a classic-layout PDF whose text uses a CID-keyed Type0
    font (Identity-H) with a /ToUnicode CMap — the embedded-subset
    layout every real-world generator (TeX, Word, browsers) emits,
    where the bytes in the content stream are GLYPH CODES, not
    character codes, and extraction is impossible without the CMap.
    The fixture's codes are deliberately NOT the Unicode values
    (ASCII maps through a shifted ``bfrange`` at 0x0F00 + codepoint;
    U+00E9 and the 'fi' ligature expansion through ``bfchar`` entries;
    daggers through the array form of ``bfrange``), so a reader that
    skips the CMap extracts garbage, not accidentally-right text.
    Non-ASCII input characters outside the mapped specials raise —
    fixtures declare their alphabet."""
    specials = {"é": 0x0A01, "†": 0x0B00, "‡": 0x0B01,
                "•": 0x0B02}
    # 0x0A02 is the 'fi' ligature glyph: encoded whenever the literal
    # pair occurs, expanded back by the CMap's multi-codepoint dst

    def encode_text(s: str) -> bytes:
        codes: list[int] = []
        i = 0
        while i < len(s):
            if s[i : i + 2] == "fi":
                codes.append(0x0A02)
                i += 2
                continue
            ch = s[i]
            if ch in specials:
                codes.append(specials[ch])
            elif " " <= ch <= "~":
                codes.append(0x0F00 + ord(ch))
            else:
                raise ValueError(
                    f"character {ch!r} outside the fixture CMap alphabet"
                )
            i += 1
        return b"".join(c.to_bytes(2, "big") for c in codes)

    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"12 dict begin\nbegincmap\n"
        b"/CMapName /Fixture-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n"
        b"<0A01> <00E9>\n"          # e-acute
        b"<0A02> <00660069>\n"      # 'fi' ligature expansion
        b"endbfchar\n"
        b"2 beginbfrange\n"
        b"<0F20> <0F7E> <0020>\n"   # shifted ASCII block
        b"<0B00> <0B02> [<2020> <2021> <2022>]\n"  # daggers, array form
        b"endbfrange\n"
        b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
        b"end\nend\n"
    )
    npg = len(pages)
    # 1 catalog, 2 pages, 3 Type0 font, 4 descendant, 5 ToUnicode,
    # then per page: dict, content
    page_nums = [6 + 2 * i for i in range(npg)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {npg} >>".encode(),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
        b"/Encoding /Identity-H /DescendantFonts [4 0 R] "
        b"/ToUnicode 5 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap),
    ]
    for i, lines in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append(b"0 -14 Td")
            ops.append(b"<" + encode_text(line).hex().encode() + b"> Tj")
        ops.append(b"ET")
        content = b" ".join(ops)
        filt = b""
        if compress:
            content = zlib.compress(content, 9)
            filt = b"/Filter /FlateDecode "
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (page_nums[i] + 1)
        )
        objects.append(
            b"<< %s/Length %d >>\nstream\n%s\nendstream"
            % (filt, len(content), content)
        )
    out = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, obody in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num
        out += obody
        out += b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_off)
    )
    return bytes(out)


def build_pdf_encrypted(
    pages: list[list[str]],
    method: str = "rc4",
    owner_password: bytes = b"owner",
    compress: bool = True,
) -> bytes:
    """Write a standard-security-handler ENCRYPTED classic-layout PDF
    with an EMPTY user password — the restrict-permissions file most
    "encrypted" web PDFs actually are (any conformant reader opens it
    without prompting).  ``method``: ``"rc4-40"`` (V1/R2, the PDF 1.1
    40-bit handler), ``"rc4"`` (V2/R3, 128-bit — the Acrobat 5 era
    default), or ``"aesv2"`` (V4/R4 with an /AESV2 /StdCF crypt
    filter, AES-128-CBC — Acrobat 7), or ``"aes256"`` (V5/R6 /AESV3,
    AES-256 — PDF 2.0).  Real /O and /U entries are
    computed from the spec algorithms (pdf_crypt.compute_o/compute_u;
    hash_r6 + /UE //OE wrapping for R6),
    so the reader exercises the genuine empty-password validation, and
    every stream is encrypted with its per-object key (the file key
    directly for V5).  The /ID, salts and
    AES IVs are derived deterministically from the content (fixture
    byte-stability; decoders never care how the IV was chosen)."""
    import hashlib

    from adtl_spark.operators.pdf_crypt import (
        aes_cbc_encrypt,
        aes_cbc_raw,
        compute_o,
        compute_u,
        hash_r6,
        object_key,
        rc4,
        standard_key,
    )

    cfg = {
        "rc4-40": (1, 2, 5),
        "rc4": (2, 3, 16),
        "aesv2": (4, 4, 16),
        "aes256": (5, 6, 32),
    }
    if method not in cfg:
        raise ValueError(f"method {method!r} not in {sorted(cfg)}")
    v, r, key_bytes = cfg[method]
    aes = method in ("aesv2", "aes256")
    p = -44  # print/copy restricted — the common permissions mask
    file_id = hashlib.md5(
        b"adtl-fixture" + repr(pages).encode("utf-8")
    ).digest()
    extra = b""
    if v == 5:
        # R6: the file key is random-per-file in the wild; derived
        # deterministically here.  /U carries hash + the two salts;
        # /UE wraps the file key under the key-salt intermediate.
        key = hashlib.sha256(b"filekey" + file_id).digest()
        vsalt = hashlib.md5(b"vs" + file_id).digest()[:8]
        ksalt = hashlib.md5(b"ks" + file_id).digest()[:8]
        u_entry = hash_r6(b"", vsalt) + vsalt + ksalt
        ue = aes_cbc_raw(hash_r6(b"", ksalt), bytes(16), key, encrypt=True)
        ovs = hashlib.md5(b"ovs" + file_id).digest()[:8]
        oks = hashlib.md5(b"oks" + file_id).digest()[:8]
        o_entry = hash_r6(owner_password, ovs, u_entry) + ovs + oks
        oe = aes_cbc_raw(
            hash_r6(owner_password, oks, u_entry), bytes(16), key,
            encrypt=True,
        )
        perms = aes_cbc_raw(
            key, bytes(16),
            struct.pack("<i", p) + b"\xff\xff\xff\xffTadb" + b"\x00" * 4,
            encrypt=True,
        )
        extra = b"/UE (%s) /OE (%s) /Perms (%s) " % tuple(
            _esc_str(x) for x in (ue, oe, perms)
        )
    else:
        o_entry = compute_o(owner_password, b"", r, key_bytes)
        key = standard_key(b"", o_entry, p, file_id, r, key_bytes)
        u_entry = compute_u(key, file_id, r)

    esc = _esc_str
    objects: list[bytes] = []
    npg = len(pages)
    page_nums = [4 + 2 * i for i in range(npg)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {npg} >>".encode()
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i, lines in enumerate(pages):
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append("0 -14 Td")
            ops.append(f"({_escape_literal(line)}) Tj")
        ops.append("ET")
        content = " ".join(ops).encode("latin-1")
        filt = b""
        if compress:
            content = zlib.compress(content, 9)
            filt = b"/Filter /FlateDecode "
        num = page_nums[i] + 1
        ok = key if v == 5 else object_key(key, num, 0, aes=aes)
        if aes:
            iv = hashlib.md5(b"iv%d" % num + file_id).digest()
            content = aes_cbc_encrypt(ok, content, iv)
        else:
            content = rc4(ok, content)
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % num
        )
        objects.append(
            b"<< %s/Length %d >>\nstream\n%s\nendstream"
            % (filt, len(content), content)
        )
    enc_num = len(objects) + 1
    if v == 1:
        enc_body = b"<< /Filter /Standard /V 1 /R 2 /O (%s) /U (%s) /P %d >>" % (
            esc(o_entry), esc(u_entry), p,
        )
    elif v == 2:
        enc_body = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O (%s) /U (%s) "
            b"/P %d >>" % (esc(o_entry), esc(u_entry), p)
        )
    elif v == 4:
        enc_body = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF /O (%s) /U (%s) /P %d >>"
            % (esc(o_entry), esc(u_entry), p)
        )
    else:
        enc_body = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF /O (%s) /U (%s) %s/P %d >>"
            % (esc(o_entry), esc(u_entry), extra, p)
        )
    objects.append(enc_body)

    out = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num
        out += body
        out += b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    idhex = file_id.hex().encode("ascii")
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
        b"/ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, enc_num, idhex, idhex, xref_off)
    )
    return bytes(out)


def build_pdf_modern(
    pages: list[list[str]],
    compress: bool = True,
    predictor: bool = True,
    objstm_lengths: bool = False,
) -> bytes:
    """Write a PDF-1.5 modern-layout file — the structure every current
    producer (pdftex, Word, Chrome's print-to-PDF) emits and the reason
    classic-only parsers miss most real-world PDFs: the catalog, page
    tree, font and page dicts live inside ONE compressed object stream
    (/Type /ObjStm); the cross-reference is an xref STREAM (/Type
    /XRef, W [1 2 2] fields, type-2 entries addressing the ObjStm
    members, PNG Predictor-12 row filtering when ``predictor``) and
    there is no classic trailer — ``startxref`` points at the xref
    stream object.  Content streams stay top-level (the spec forbids
    streams inside an ObjStm).  Fixture-side counterpart of the
    modern-layout read path (:func:`_decode_xref_stream`,
    :func:`_parse_objstm`); any conformant viewer opens the output.

    ``objstm_lengths=True`` additionally writes every content stream's
    ``/Length`` as an INDIRECT reference to an integer object that
    itself lives inside the ObjStm — the layout real generators emit
    when the byte count is only known after the compressed body is
    out, and the reason the reader needs a third resolution pass
    (:func:`_resolve_pending_lengths`)."""
    npg = len(pages)
    # numbering: 1 catalog, 2 pages node, 3 font, 4..3+npg page dicts
    # (all ObjStm members); then npg content streams, the ObjStm, the
    # xref stream — streams are top-level objects; with
    # ``objstm_lengths`` the npg length integers follow as further
    # ObjStm members
    content_nums = [4 + npg + i for i in range(npg)]
    objstm_num = 4 + 2 * npg
    xref_num = objstm_num + 1
    length_nums = [xref_num + 1 + i for i in range(npg)]
    kids = " ".join(f"{4 + i} 0 R" for i in range(npg))
    members: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {npg} >>".encode()),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    contents: list[bytes] = []
    for i, lines in enumerate(pages):
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append("0 -14 Td")
            ops.append(f"({_escape_literal(line)}) Tj")
        ops.append("ET")
        data = " ".join(ops).encode("latin-1")
        filt = b""
        if compress:
            data = zlib.compress(data, 9)
            filt = b"/Filter /FlateDecode "
        if objstm_lengths:
            contents.append(
                b"<< %s/Length %d 0 R >>\nstream\n%s\nendstream"
                % (filt, length_nums[i], data)
            )
            members.append((length_nums[i], b"%d" % len(data)))
        else:
            contents.append(
                b"<< %s/Length %d >>\nstream\n%s\nendstream"
                % (filt, len(data), data)
            )
        members.append(
            (
                4 + i,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 3 0 R >> >> "
                b"/Contents %d 0 R >>" % content_nums[i],
            )
        )
    # assemble the ObjStm: header of (objnum, offset) pairs, then bodies
    bodies = bytearray()
    header = []
    for num, body in members:
        header.append(f"{num} {len(bodies)}")
        bodies += body + b"\n"
    hdr = (" ".join(header) + "\n").encode()
    stm_raw = hdr + bytes(bodies)
    stm_data = zlib.compress(stm_raw, 9)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n%s\nendstream"
        % (len(members), len(hdr), len(stm_data), stm_data)
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num, body in list(zip(content_nums, contents)) + [
        (objstm_num, objstm_body)
    ]:
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num
        out += body
        out += b"\nendobj\n"

    # xref stream entries, W = [1 2 2]: obj 0 free; ObjStm members are
    # type-2 (stream number, member index); streams are type-1 offsets
    xref_off = len(out)
    offsets[xref_num] = xref_off
    size = (length_nums[-1] if objstm_lengths and npg else xref_num) + 1
    rows = []
    entry: dict[int, tuple[int, int, int]] = {0: (0, 0, 65535)}
    for i, (num, _b) in enumerate(members):
        entry[num] = (2, objstm_num, i)
    for num in content_nums + [objstm_num, xref_num]:
        entry[num] = (1, offsets[num], 0)
    for num in range(size):
        t, f2, f3 = entry[num]
        rows.append(bytes([t]) + f2.to_bytes(2, "big") + f3.to_bytes(2, "big"))
    columns = 5
    if predictor:
        filtered = bytearray()
        prev = bytes(columns)
        for row in rows:
            filtered.append(2)  # PNG Up
            filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
            prev = row
        xdata = zlib.compress(bytes(filtered), 9)
        parms = b"/DecodeParms << /Predictor 12 /Columns 5 >> "
    else:
        xdata = zlib.compress(b"".join(rows), 9)
        parms = b""
    out += b"%d 0 obj\n" % xref_num
    out += (
        b"<< /Type /XRef /Size %d /W [1 2 2] /Root 1 0 R "
        b"/Filter /FlateDecode %s/Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (size, parms, len(xdata), xdata)
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)
