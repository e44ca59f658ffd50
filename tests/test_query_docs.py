"""A registered query's docstring is plain text: the constants it names
are written in. A docstring is not an f-string, so a ``{_NAME}`` in one
reaches ``__doc__`` (and every plan report that prints it) literally."""

from __future__ import annotations

import re

from end_to_end_aws_data_pipeline_spark import registry

_PLACEHOLDER = re.compile(r"\{[A-Za-z_]\w*\}")


def test_no_query_docstring_has_a_placeholder():
    found = {
        name: sorted(set(_PLACEHOLDER.findall(fn.__doc__ or "")))
        for name, fn in registry.queries().items()
    }
    assert not {k: v for k, v in found.items() if v}
