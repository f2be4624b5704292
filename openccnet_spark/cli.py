"""Command-line frontend mirroring the reference CLI's surface.

Subcommands match ``OpenccNet`` (``OpenccNet/Program.cs``):

* ``convert`` — file/stdin text conversion with legacy encodings, DeTofu,
  IDS preservation, compat normalization and custom dictionaries
  (``ConvertCommand.cs:18-140`` option surface);
* ``office``  — Office/EPUB container conversion incl. ``--keep-font``
  (``OfficeCommand.cs``);
* ``pdf``     — PDF -> UTF-8 text with optional reflow/headers/conversion
  (``PdfCommand.cs:18-140``);
* ``dictgen`` — delegate to ``tools/dictgen.py``.

Run as ``python -m openccnet_spark <subcommand>``. Everything here is the
scalar single-process path (a CLI converts ONE document, like the
reference); the distributed surface is the library + ``jobs/``.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

#: reference encoding names -> Python codecs (ConvertCommand.cs:55-65;
#: "UNICODE" is UTF-16 in the reference)
_ENCODINGS = {
    "utf-8": "utf-8",
    "unicode": "utf-16",
    "utf-16": "utf-16",
    "gbk": "gbk",
    "gb2312": "gb2312",
    "big5": "big5",
    "shift-jis": "shift_jis",
    "shift_jis": "shift_jis",
}


def _codec(name: str) -> str:
    key = name.strip().lower()
    if key not in _ENCODINGS:
        raise SystemExit(
            f"unsupported encoding {name!r}; valid: UTF-8|UNICODE|GBK|GB2312|BIG5|Shift-JIS"
        )
    return _ENCODINGS[key]


def _read_input(path: str | None, encoding: str) -> str:
    if path:
        # read_bytes + decode, NOT read_text: universal-newline mode would
        # silently rewrite CRLF/CR to LF, breaking byte-exactness and
        # diverging from the stdin path (which decodes raw bytes)
        return Path(path).read_bytes().decode(_codec(encoding))
    if sys.stdin.isatty():
        # interactive parity with the reference (ConvertCommand.cs:303-321)
        print(
            "Input text to convert, <Ctrl+D> (Unix) or <Ctrl+Z> (Windows) "
            "then Enter to submit:",
            file=sys.stderr,
        )
    data = sys.stdin.buffer.read()
    return data.decode(_codec(encoding))


def _write_output(path: str | None, text: str, encoding: str) -> None:
    if path:
        # write_bytes for byte-exact output (no newline translation),
        # symmetric with _read_input
        Path(path).write_bytes(text.encode(_codec(encoding)))
    else:
        sys.stdout.buffer.write(text.encode(_codec(encoding)))
        if sys.stdout.isatty() and text and not text.endswith("\n"):
            # reference parity: terminal output gets a closing newline,
            # redirected output stays byte-exact (ConvertCommand.cs:324-346)
            sys.stdout.buffer.write(b"\n")


def _converter(custom_dicts: list[str]):
    from .convert import Converter
    from .dictionary import load_bundle, load_custom_specs

    bundle = load_bundle()
    if custom_dicts:
        bundle = bundle.with_custom_specs(load_custom_specs(custom_dicts))
    return Converter(bundle)


def _stream_convert(args: argparse.Namespace, cc) -> int:
    """Line-streaming stdin->stdout mode: convert each line as it arrives
    (pipelines, tail -f). The reference reads stdin to EOF in one gulp
    (ConvertCommand.cs:303-348); per-line output is equivalent for its
    config surface because conversion never matches across a newline
    (every round's dictionaries are newline-free — the same invariant the
    Spark splitter relies on), but it starts emitting immediately and
    holds one line in memory instead of the whole stream."""
    from .detofu import parse_level

    in_codec = _codec(args.in_enc)
    out_codec = _codec(args.out_enc)
    level = parse_level(args.detofu) if args.detofu is not None else None
    detofu_map = None
    if level is not None and args.detofu_file:
        from .detofu import DeTofuMap

        # parse the immutable custom map once, not once per input line
        detofu_map = DeTofuMap.builtin(cc.bundle, level).with_custom_file(
            args.detofu_file
        )
    for raw in sys.stdin.buffer:
        line = raw.decode(in_codec)
        # preserve the exact original line ending (\n, \r\n, or none at EOF)
        body = line.rstrip("\r\n")
        nl = line[len(body):]
        line = body
        if args.norm_compat:
            line = cc.normalize_compat(line)
        out = cc.convert(line, args.config, args.punct, preserve_ids=args.keep_ids)
        if level is not None:
            out = detofu_map.convert(out) if detofu_map else cc.detofu(out, level)
        sys.stdout.buffer.write((out + nl).encode(out_codec))
        sys.stdout.buffer.flush()
    if cc.get_last_error():
        print(cc.get_last_error(), file=sys.stderr)
    return 0


def _cmd_convert(args: argparse.Namespace) -> int:
    from .detofu import parse_level

    if args.detofu_file and args.detofu is None:
        raise SystemExit("--detofu-file requires --detofu LEVEL (it was ignored silently before)")
    cc = _converter(args.custom_dict)
    if args.stream:
        if args.input or args.output:
            raise SystemExit("--stream reads stdin and writes stdout only")
        return _stream_convert(args, cc)
    text = _read_input(args.input, args.in_enc)
    if args.norm_compat:
        text = cc.normalize_compat(text)
    out = cc.convert(text, args.config, args.punct, preserve_ids=args.keep_ids)
    if cc.get_last_error():
        print(cc.get_last_error(), file=sys.stderr)
    if args.detofu is not None:
        level = parse_level(args.detofu)
        if args.detofu_file:
            out = cc.detofu_with_custom_file(out, level, args.detofu_file)
        else:
            out = cc.detofu(out, level)
    _write_output(args.output, out, args.out_enc)
    return 0


def _cmd_office(args: argparse.Namespace) -> int:
    from .sources.office import SUPPORTED_FORMATS, convert_office_bytes

    fmt = (args.format or Path(args.input).suffix.lstrip(".")).lower()
    if fmt not in SUPPORTED_FORMATS:
        raise SystemExit(f"unsupported format {fmt!r}; valid: {', '.join(SUPPORTED_FORMATS)}")
    cc = _converter(args.custom_dict)
    data = Path(args.input).read_bytes()
    out = convert_office_bytes(
        data, fmt, args.config, args.punct, converter=cc, keep_font=args.keep_font
    )
    output = args.output or str(
        Path(args.input).with_stem(Path(args.input).stem + f"_{args.config}")
    )
    Path(output).write_bytes(out)
    print(f"wrote {output}")
    return 0


def _cmd_pdf(args: argparse.Namespace) -> int:
    from .sources.pdf import pdf_to_text

    cc = _converter(args.custom_dict)
    data = Path(args.input).read_bytes()
    text = pdf_to_text(
        data,
        config=None if args.extract else args.config,
        punct=args.punct,
        add_page_header=args.header,
        reflow=args.reflow,
        compact=args.compact,
        converter=cc,
        password=args.password or "",
        column_layout=args.columns,
        strip_repeated=args.strip_headers,
    )
    output = args.output or str(Path(args.input).with_suffix(".txt"))
    Path(output).write_text(text, encoding="utf-8")
    print(f"wrote {output}")
    if getattr(args, "tables", False):
        from .sources.pdf import extract_pdf_tables

        parts: list[str] = []
        for i, page_tables in enumerate(
            extract_pdf_tables(data, password=args.password or ""), 1
        ):
            if not page_tables:
                continue
            parts.append(f"=== [Page {i}] ===")
            for table in page_tables:
                parts.extend("\t".join(row) for row in table)
                parts.append("")
        tpath = output + ".tables.tsv"
        Path(tpath).write_text("\n".join(parts) + ("\n" if parts else ""),
                               encoding="utf-8")
        print(f"wrote {tpath}")
    return 0


def _add_common(p: argparse.ArgumentParser, config_required: bool = True) -> None:
    p.add_argument("--config", "-c", required=config_required,
                   help="conversion config (s2t, t2s, s2twp, ...)")
    p.add_argument("--punct", "-p", action="store_true", help="punctuation conversion")
    p.add_argument("--custom-dict", "-D", action="append", default=[],
                   metavar="slot:mode:path",
                   help="custom dictionary spec (append|override), repeatable")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="openccnet_spark",
        description="OpenCC-style conversion CLI (reference-parity frontend)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert", help="convert text file / stdin")
    _add_common(c)
    c.add_argument("--input", "-i", help="input file (default stdin)")
    c.add_argument("--output", "-o", help="output file (default stdout)")
    c.add_argument("--in-enc", default="UTF-8", help="input encoding")
    c.add_argument("--out-enc", default="UTF-8", help="output encoding")
    c.add_argument("--detofu", metavar="LEVEL",
                   help="apply DeTofu after conversion (all|ext-b..ext-i)")
    c.add_argument("--detofu-file", help="custom DeTofu fallback file")
    c.add_argument("--keep-ids", "-I", action="store_true",
                   help="preserve Unicode IDS expressions")
    c.add_argument("--norm-compat", "-n", action="store_true",
                   help="normalize CJK Compatibility Ideographs first")
    c.add_argument("--stream", "-s", action="store_true",
                   help="line-streaming stdin->stdout (convert each line as it arrives)")
    c.set_defaults(fn=_cmd_convert)

    o = sub.add_parser("office", help="convert Office/EPUB container")
    _add_common(o)
    o.add_argument("--input", "-i", required=True)
    o.add_argument("--output", "-o")
    o.add_argument("--format", "-f", help="docx|xlsx|pptx|odt|ods|odp|epub (default: extension)")
    o.add_argument("--keep-font", action="store_true",
                   help="preserve font-name declarations via markers")
    o.set_defaults(fn=_cmd_office)

    d = sub.add_parser("pdf", help="PDF -> UTF-8 text (+ optional reflow/convert)")
    _add_common(d, config_required=False)
    d.add_argument("--input", "-i", required=True)
    d.add_argument("--output", "-o")
    d.add_argument("--header", "-H", action="store_true", help="[Page x/y] headers")
    d.add_argument("--reflow", "-r", action="store_true", help="reflow CJK paragraphs")
    d.add_argument(
        "--columns",
        action="store_true",
        help="multi-column pages: reorder into column reading order "
        "(default keeps content-stream order, matching the reference's "
        "ContentOrderTextExtractor)",
    )
    d.add_argument(
        "--strip-headers",
        action="store_true",
        help="suppress running headers/footers (digit-masked lines "
        "repeating at the same y on at least half the pages)",
    )
    d.add_argument("--compact", "-C", action="store_true", help="compact reflow")
    d.add_argument("--extract", "-e", action="store_true", help="extract only, no conversion")
    d.add_argument("--password", "-P", default="",
                   help="password for encrypted PDFs (user or owner; "
                        "extension beyond the reference CLI — PdfPig takes "
                        "it via its API)")
    d.add_argument("--norm-compat", "-n", action="store_true",
                   help="accepted for reference-CLI parity; extraction "
                        "always compat-normalizes (idempotent)")
    d.add_argument(
        "--tables",
        action="store_true",
        help="ALSO write detected tables as <output>.tables.tsv "
        "(column-aligned baseline grids; tab-separated cells, one blank "
        "line between tables, '=== [Page i] ===' sections; extension "
        "beyond the reference CLI)",
    )
    d.set_defaults(fn=_cmd_pdf)

    g = sub.add_parser("dictgen", help="compile the dictionary bundle (tools/dictgen.py)")
    g.add_argument("rest", nargs=argparse.REMAINDER)
    g.set_defaults(fn=lambda a: _cmd_dictgen(a.rest))  # main() short-circuits first
    return ap


def _cmd_dictgen(rest: list[str]) -> int:
    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    sys.argv = ["dictgen"] + list(rest)
    import dictgen  # tools/dictgen.py

    return dictgen.main()


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv[:1] == ["dictgen"]:
        # pass everything through verbatim — argparse's REMAINDER rejects
        # leading options like `dictgen --out ...`
        return _cmd_dictgen(argv[1:])
    args = build_parser().parse_args(argv)
    if args.cmd == "pdf" and not args.extract and not args.config:
        raise SystemExit("--config is required unless --extract is used")
    return args.fn(args)


if __name__ == "__main__":  # pragma: no cover - exercised via __main__
    sys.exit(main())
