"""Plain-text file sources with legacy-encoding support (SURVEY §2.3).

The reference CLI reads text files in UTF-8/UNICODE/GBK/GB2312/BIG5/
Shift-JIS (``OpenccNet/ConvertCommand.cs:55-65,303-348``). All encodings
come in through the ``binaryFile`` source with decoding in an Arrow pass
(Spark's native ``spark.read.text`` cannot yield reliable per-file line
numbers once a file spans scan splits):

* one file per row (``binaryFile``), decode + split to lines in
  ``mapInPandas`` — no driver-side reads, files parallelize across tasks;
* ``spark.sql.files.maxPartitionBytes`` sizes the tasks; huge single files
  should be split upstream (the source preserves a ``path`` + ``line_no``
  lineage so downstream joins stay possible).

Python's codec machinery covers the reference's encoding list (gbk, gb2312,
big5, shift_jis, utf-16 == the reference's "UNICODE").
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

ENCODINGS = ("utf-8", "utf-16", "gbk", "gb2312", "big5", "shift_jis")

_NEWLINES = re.compile("\r\n|\r|\n")

LINES_SCHEMA = "path string, line_no long, text string"


def _lines(decoded: str) -> list:
    """Newline-only splitting (\\r\\n, \\r, \\n) — ``str.splitlines`` would
    ALSO split on \\v \\f \\x1c-\\x1e \\x85 U+2028/29, shifting every later
    line_no vs the file's actual newline count (and vs wc -l /
    spark.read.text / the reference CLI). A trailing newline terminates the
    last line rather than opening an empty one, like splitlines."""
    lines = _NEWLINES.split(decoded) if decoded else []
    if lines and lines[-1] == "":
        lines.pop()
    return lines


def read_text_files(
    spark: SparkSession,
    path_glob: str,
    encoding: str = "utf-8",
    errors: str = "strict",
) -> DataFrame:
    """Read text files of any supported encoding into (path, line_no, text).

    Every encoding — including UTF-8 — decodes whole files in one
    vectorized pass over ``binaryFile`` rows, so ``line_no`` is derived
    from the actual byte order of each file. (A ``spark.read.text`` +
    window-on-``monotonically_increasing_id`` fast path was dropped: it
    relied on scan split indexes following byte-offset order, an
    undocumented detail that misorders lines for files larger than
    ``maxPartitionBytes``.) Files parallelize across tasks; line numbers
    within a file are exact by construction.
    """
    binary = spark.read.format("binaryFile").load(path_glob)

    def _decode(batches):
        for pdf in batches:
            paths, line_nos, texts = [], [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                lines = _lines(bytes(content).decode(encoding, errors=errors))
                for i, line in enumerate(lines):
                    paths.append(p)
                    line_nos.append(i)
                    texts.append(line)
            yield pd.DataFrame({"path": paths, "line_no": line_nos, "text": texts})

    return binary.select("path", "content").mapInPandas(_decode, LINES_SCHEMA)
