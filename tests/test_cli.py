"""CLI frontend tests (reference OpenccNet command surface parity)."""

from __future__ import annotations

import io
import zipfile

import pytest

from openccnet_spark.cli import main


def test_convert_file_roundtrip(tmp_path, capsys):
    src = tmp_path / "in.txt"
    dst = tmp_path / "out.txt"
    src.write_text("简体内容\n第二行", encoding="utf-8")
    assert main(["convert", "-c", "s2t", "-i", str(src), "-o", str(dst)]) == 0
    assert dst.read_text(encoding="utf-8") == "簡體內容\n第二行"


def test_convert_legacy_encoding(tmp_path):
    src = tmp_path / "in_gbk.txt"
    dst = tmp_path / "out_b5.txt"
    src.write_bytes("汉字内容".encode("gbk"))
    assert main([
        "convert", "-c", "s2t", "-i", str(src), "-o", str(dst),
        "--in-enc", "GBK", "--out-enc", "BIG5",
    ]) == 0
    assert dst.read_bytes().decode("big5") == "漢字內容"


def test_convert_detofu_and_custom_dict(tmp_path):
    src = tmp_path / "in.txt"
    dst = tmp_path / "out.txt"
    custom = tmp_path / "custom.txt"
    src.write_text("软件骖𬴂", encoding="utf-8")
    custom.write_text("软件\t軟體X\n", encoding="utf-8")
    assert main([
        "convert", "-c", "s2t", "-i", str(src), "-o", str(dst),
        "--detofu", "ext-b", "-D", f"st_phrases:append:{custom}",
    ]) == 0
    assert dst.read_text(encoding="utf-8") == "軟體X驂騑"


def test_convert_invalid_config_warns_and_falls_back(tmp_path, capsys):
    src = tmp_path / "in.txt"
    dst = tmp_path / "out.txt"
    src.write_text("测试", encoding="utf-8")
    assert main(["convert", "-c", "bogus", "-i", str(src), "-o", str(dst)]) == 0
    assert dst.read_text(encoding="utf-8") == "測試"
    assert "bogus" in capsys.readouterr().err


def test_office_subcommand(tmp_path, capsys):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", "<w:t>简体文档</w:t>")
    src = tmp_path / "doc.docx"
    dst = tmp_path / "doc_s2t.docx"
    src.write_bytes(buf.getvalue())
    assert main(["office", "-c", "s2t", "-i", str(src), "-o", str(dst)]) == 0
    assert "簡體文檔" in zipfile.ZipFile(dst).read("word/document.xml").decode()


def test_pdf_subcommand(tmp_path, capsys):
    from openccnet_spark.sources.pdf_synth import build_pdf

    src = tmp_path / "doc.pdf"
    dst = tmp_path / "doc.txt"
    src.write_bytes(build_pdf([["简体第一行，连着", "第二行内容。"]]))
    assert main(["pdf", "-c", "s2t", "-r", "-i", str(src), "-o", str(dst)]) == 0
    assert dst.read_text(encoding="utf-8") == "簡體第一行，連著第二行內容。"
    # extract-only needs no config
    assert main(["pdf", "-e", "-i", str(src), "-o", str(dst)]) == 0
    assert "简体第一行" in dst.read_text(encoding="utf-8")


def test_pdf_requires_config_unless_extract(tmp_path):
    src = tmp_path / "doc.pdf"
    src.write_bytes(b"%PDF-1.7\n")
    with pytest.raises(SystemExit):
        main(["pdf", "-i", str(src)])


def test_convert_stream_mode():
    """--stream converts stdin line-by-line to stdout via a real pipe
    (reference ConvertCommand stdin/stdout flow, line-buffered), output
    byte-exact vs the whole-text path incl. mixed line endings."""
    import subprocess
    import sys

    inp = "简体第一行\r\n第二行软件\n最后无换行".encode("utf-8")
    proc = subprocess.run(
        [sys.executable, "-m", "openccnet_spark", "convert", "-c", "s2t", "--stream"],
        input=inp,
        capture_output=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout.decode("utf-8") == "簡體第一行\r\n第二行軟件\n最後無換行"


def test_convert_stream_rejects_files(tmp_path):
    with pytest.raises(SystemExit):
        main(["convert", "-c", "s2t", "--stream", "-i", str(tmp_path / "x.txt")])


def test_dictgen_reference_format_passthrough(tmp_path):
    """`openccnet dictgen -f cbor -o ...` (leading option, reference
    DictgenCommand flags) must flow through the passthrough shim and
    produce a loadable reference-format bundle. The lexicon sources are
    written from the committed bundle, so the test needs no reference
    checkout."""
    from openccnet_spark.bundle_interop import load_reference_bundle
    from openccnet_spark.dictionary import SLOTS, load_bundle
    from tools.dictgen import SLOT_FILES

    compiled = load_bundle()
    src = tmp_path / "dicts"
    src.mkdir()
    for slot, fname in SLOT_FILES.items():
        lines = (f"{k}\t{v}\n" for k, v in compiled.slots[slot].items())
        (src / fname).write_text("".join(lines), encoding="utf-8")
    (src / "CJK_Compatibility_Ideographs.txt").write_text(
        "".join(f"{chr(k)}\t{v}\n" for k, v in compiled.compat_table.items()),
        encoding="utf-8",
    )
    tofu = compiled.detofu.items()
    (src / "TSCharactersTofu.txt").write_text(
        "".join(f"{c}\t{fb}\tExt{'BCDEFGHI'[lvl]}\n" for c, (fb, lvl) in tofu),
        encoding="utf-8",
    )

    out = tmp_path / "dictionary_maxlength.cbor"
    assert main(["dictgen", "-f", "cbor", "--src", str(src), "--out", str(out)]) == 0
    b = load_reference_bundle(out)
    for s in SLOTS:
        assert b.slots[s] == compiled.slots[s], s


def test_file_input_preserves_crlf(tmp_path):
    """-i file input must be byte-exact (no universal-newline rewrite of
    CRLF/CR), matching the stdin path — code-review finding, round 4."""
    src, dst = tmp_path / "in.txt", tmp_path / "out.txt"
    src.write_bytes("软件\r\n第二行\r没有结尾".encode("utf-8"))
    assert main(["convert", "-c", "s2t", "-i", str(src), "-o", str(dst)]) == 0
    assert dst.read_bytes() == "軟件\r\n第二行\r沒有結尾".encode("utf-8")


def test_detofu_file_without_level_errors(tmp_path):
    """--detofu-file without --detofu was silently ignored; it must now
    fail loudly — code-review finding, round 4."""
    import pytest

    src = tmp_path / "in.txt"
    src.write_text("文字", encoding="utf-8")
    custom = tmp_path / "c.txt"
    custom.write_text("𬺰\t炸\tExtG\n", encoding="utf-8")
    with pytest.raises(SystemExit, match="requires --detofu"):
        main(["convert", "-c", "s2t", "--detofu-file", str(custom), "-i", str(src)])


def test_cli_import_leaves_numpy_and_pandas_unloaded():
    # line mode converts short strings with the scalar matcher; numpy and
    # pandas load only when a long text first takes the vectorized round
    import subprocess
    import sys

    code = "import sys, openccnet_spark.cli; print('numpy' in sys.modules, 'pandas' in sys.modules)"
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["False", "False"]
