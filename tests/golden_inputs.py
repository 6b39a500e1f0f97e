"""Where the reference golden HTML inputs live, and the skip mark for the
tests that compare extraction output against them.

The inputs ({0..6}.html) are not in the repository; their expected outputs
are (tests/fixtures/golden/). A test that reads them runs unchanged wherever
they exist and skips, naming the missing files, wherever they do not.
"""

import pytest

from go_boilerpipe_spark.sources.pages import REF_TESTDATA


def reference_html(doc):
    return REF_TESTDATA / f"{doc}.html"


def needs_reference_html(*docs):
    """skipif mark: the test runs only if every ``{doc}.html`` exists."""
    missing = [str(p) for p in map(reference_html, docs) if not p.exists()]
    return pytest.mark.skipif(
        bool(missing), reason="reference input absent: " + ", ".join(missing)
    )
