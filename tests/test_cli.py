"""The spark-submit CLI surface, over the page set of :mod:`tests.page_set`
(no external inputs)."""

import json
import os

from tests.page_set import write_page_set


def test_cli_batch_job(tmp_path, capsys):
    # drive the spark-submit surface in-process
    from go_boilerpipe_spark.jobs.extract import main

    src = str(tmp_path / "pages")
    urls = write_page_set(src, 2)

    sink = str(tmp_path / "out")
    main(["--source", src, "--sink", sink, "--master", "local[4]"])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(out)
    assert stats["mode"] == "batch"
    assert stats["docs_out"] == len(urls)
    assert os.path.isdir(os.path.join(sink, "_manifest"))
