"""Markdown extraction and notebook cell rows: golden documents with
hand-written expected text, loud refusals, Spark fan-outs, and the
composition (notebook markdown cells → the markdown extractor)."""

from __future__ import annotations

import json

import pytest

from attic.operators.markdown_text import (
    markdown_to_text,
    markdown_to_text_frame,
)
from attic.operators.notebook import (
    notebook_cells,
    notebook_cells_frame,
)

_MD = """# Title here

Some **bold** and _emphasis_ and `inline code` stay.

- first bullet
- second with [a link](https://example.com/x) inside
1. numbered item

> quoted line
> more quote

```python
def f(x):
    return x * 2
```

| col1 | col2 |
| ---- | ---- |
| a    | b    |

---

[ref]: https://example.com/ref
<div class="raw">
Setext heading
==============
Final paragraph with ![alt text](img.png) image.
"""

_WANT = """Title here

Some bold and emphasis and inline code stay.

first bullet
second with a link inside
numbered item

quoted line
more quote

def f(x):
    return x * 2

col1   col2
a      b

Setext heading
Final paragraph with alt text image."""


def test_markdown_golden():
    got = markdown_to_text(_MD)
    want = "\n".join(" ".join(l.split()) if l.strip() else "" for l in _WANT.split("\n"))
    got_norm = "\n".join(" ".join(l.split()) if l.strip() else "" for l in got.split("\n"))
    assert got_norm == want, got


def test_markdown_code_fences_keep_content_verbatim():
    md = "```\nx = '**not emphasis**'\n```\n"
    assert markdown_to_text(md) == "x = '**not emphasis**'"
    tilde = "~~~info\nkeep ~ this\n~~~\n"
    assert markdown_to_text(tilde) == "keep ~ this"


def test_markdown_nested_emphasis_and_autolinks():
    assert markdown_to_text("***very** strong*") == "very strong"
    assert markdown_to_text("see <https://example.com> now").split() == ["see", "now"]


def test_markdown_frame(spark):
    df = spark.createDataFrame([(1, "# H\n\nbody **b**")], "doc_id long, text string")
    rows = markdown_to_text_frame(df).collect()
    assert rows[0].extracted == "H\n\nbody b"
    assert rows[0].doc_id == 1


def _nb4(cells) -> str:
    return json.dumps(
        {
            "nbformat": 4,
            "metadata": {"language_info": {"name": "python"}},
            "cells": cells,
        }
    )


def test_notebook_v4_cells():
    doc = _nb4(
        [
            {"cell_type": "markdown", "source": ["# Title\n", "text"]},
            {
                "cell_type": "code",
                "source": "print(1)\n",
                "execution_count": 3,
                "outputs": [{"output_type": "stream"}, {"output_type": "x"}],
            },
            {"cell_type": "code", "source": [], "execution_count": None, "outputs": []},
        ]
    )
    cells = notebook_cells(doc)
    assert [(c["cell_idx"], c["cell_type"], c["source"]) for c in cells] == [
        (0, "markdown", "# Title\ntext"),
        (1, "code", "print(1)\n"),
        (2, "code", ""),
    ]
    assert cells[1]["execution_count"] == 3 and cells[1]["n_outputs"] == 2
    assert cells[2]["execution_count"] == -1
    assert all(c["language"] == "python" for c in cells)


def test_notebook_v3_worksheets():
    doc = json.dumps(
        {
            "nbformat": 3,
            "metadata": {"kernelspec": {"language": "julia"}},
            "worksheets": [
                {"cells": [{"cell_type": "code", "input": "1+1", "prompt_number": 7}]}
            ],
        }
    )
    cells = notebook_cells(doc)
    assert cells[0]["source"] == "1+1" and cells[0]["execution_count"] == 7
    assert cells[0]["language"] == "julia"


def test_notebook_refusals():
    with pytest.raises(ValueError, match=r"notebook doc-1: not JSON"):
        notebook_cells("{broken", origin="doc-1")
    with pytest.raises(ValueError, match=r"neither 'cells' nor 'worksheets'"):
        notebook_cells('{"some": "json"}')
    with pytest.raises(ValueError, match=r"cell 0 lacks cell_type"):
        notebook_cells(_nb4([{"source": "x"}]))
    with pytest.raises(ValueError, match=r"cell 0 has no source"):
        notebook_cells(_nb4([{"cell_type": "code"}]))
    with pytest.raises(ValueError, match=r"cell 0 source is int"):
        notebook_cells(_nb4([{"cell_type": "code", "source": 5}]))


def test_notebook_frame_and_markdown_composition(spark):
    doc = _nb4(
        [
            {"cell_type": "markdown", "source": "## Head\n\n**bold** text"},
            {"cell_type": "code", "source": "x = 1", "execution_count": 1, "outputs": []},
        ]
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    cells = notebook_cells_frame(df)
    rows = sorted(cells.collect(), key=lambda r: r.cell_idx)
    assert [(r.cell_type, r.source) for r in rows] == [
        ("markdown", "## Head\n\n**bold** text"),
        ("code", "x = 1"),
    ]
    # markdown cells flow straight into the markdown extractor
    md_rows = markdown_to_text_frame(
        cells.where(cells.cell_type == "markdown"), md_col="source"
    ).collect()
    assert md_rows[0].extracted == "Head\n\nbold text"


def test_code_spans_protected_from_emphasis_and_pipes():
    assert markdown_to_text("use `foo_bar_baz` here") == "use foo_bar_baz here"
    assert markdown_to_text("run `a | b` now") == "run a | b now"


def test_fence_info_string_with_spaces():
    md = '```python title="x"\ncode **verbatim**\n```\nAfter **bold**'
    assert markdown_to_text(md) == "code **verbatim**\nAfter bold"


def test_null_notebook_text_names_the_doc(spark):
    df = spark.createDataFrame([(5, None)], "doc_id long, text string")
    with pytest.raises(Exception, match=r"notebook 5: text column is NULL"):
        notebook_cells_frame(df).collect()


def test_intra_word_underscores_stay_literal():
    """Regression (CommonMark): '_' may not open/close emphasis inside a
    word, so snake_case identifiers mentioned in prose survive intact —
    the old single _EMPHASIS pattern extracted 'foo_bar_baz' as
    'foobarbaz'. '*' keeps its intra-word behavior."""
    assert markdown_to_text("call foo_bar_baz here") == "call foo_bar_baz here"
    assert markdown_to_text("the _emphasized_ word") == "the emphasized word"
    assert markdown_to_text("a __strong__ word") == "a strong word"
    assert markdown_to_text("in*tra*word stars") == "intraword stars"
    assert markdown_to_text("mixed foo_bar and _real_ use") == "mixed foo_bar and real use"
