"""Adversarial input classes shared by the C-kernel parity gate
(tests/test_ckernel_parity.py) and the ASan run
(scripts/ckernel_asan_check.py) — VERDICT r3 item 8. One source of
truth so the sanitizer exercises exactly what the differential pins.
"""

import random


def adversarial_classes() -> dict[str, list[str]]:
    """Named classes of hostile documents. Every case must round-trip
    BOTH kernels identically and run ASan-clean."""
    return {
        "attribute_bomb": [
            "<a " + "x=y " * 5000 + "href=u>linked text here</a>",
            "<p " + " ".join(f"data-{i}='v{i}'" for i in range(2000))
            + ">body words</p>",
            "<time " + "a=b " * 1000
            + "datetime=2020-01-01T00:00:00Z>t</time>",
            "<img " + ("alt='" + "&amp;" * 500 + "' ") * 50 + ">",
            "<div " + "x" * 100000 + "=y>deep attr name</div>",
            "<div y='" + "x" * 100000 + "'>deep attr value</div>",
        ],
        "deep_nesting": [
            "<div>" * 5000 + "core words here" + "</div>" * 5000,
            "<ul>" + "<li>item words" * 3000 + "</ul>",
            "<a href=u>" * 2000 + "anchor" + "</a>" * 2000,
            "<h1>" * 1500 + "heading" + "</h2>" * 1500,  # mismatched close
            "<body>" + "<div><p>" * 2500 + "x" + "</p></div>" * 2500,
        ],
        "long_entity_token": [
            "&#" + "9" * 100 + ";",
            "&#x" + "f" * 80 + ";",
            "&" + "a" * 5000 + ";",
            "&amp" * 10000,
            "<p>" + "x" * 200000 + "</p>",
            "<p>" + "&#65;" * 30000 + "</p>",
            "<title>" + "&notin" * 5000 + "</title><body><p>t</p></body>",
        ],
        "lone_surrogate_dense": [
            "\udc80" * 2000,
            "<p>" + "\udc80\udcff" * 1000 + " words between "
            + "\udced\udcb0\udc80" * 500 + "</p>",
            "<title>\udc80 t \udc81</title><body><p>"
            + " ".join("\udc80word%d" % i for i in range(200)) + "</p></body>",
            "".join("\udc80" if i % 3 else "a" for i in range(5000)),
            "<a href='\udc80\udc81'>\udc82 link \udc83</a>"
            + "<p>plain</p>" * 100,
        ],
    }


FULL_PIPELINE_FUZZ_SEED = 31337


def full_pipeline_fuzz_cases(n: int = 400, seed: int = FULL_PIPELINE_FUZZ_SEED):
    """The 400-case full-pipeline differential corpus — the SAME cases
    the parity test checks are what the ASan build executes."""
    rng = random.Random(seed)
    words = ["word", "apple", "Σίγμα", "İzmir", "STRASSE", "中文", "x" * 30]
    tags = ["<p>", "</p>", "<div>", "</div>", "<a href=u>", "</a>", "<h1>",
            "</h1>", "<li>", "</li>", "<ul>", "</ul>", "<body>", "</body>",
            "<title>", "</title>", "<br>", " | ", " - ", " » ", ".com",
            "Comments", "add comment", "\x08", "\xa0", "'", "?", "!", ".",
            # ld+json pieces: drive the merged-headline resolver call
            # through the fuzz, including broken JSON and an empty
            # headline
            '<script type="application/ld+json">'
            '{"@type":"Article","headline":"Fuzz Headline"}</script>',
            '<script type="application/ld+json">{broken</script>',
            '<script type="application/ld+json">'
            '{"@type":"NewsArticle","headline":""}</script>']
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(1, 30)):
            if rng.random() < 0.5:
                parts.append(rng.choice(words) + " ")
            else:
                parts.append(rng.choice(tags))
        out.append("".join(parts))
    return out


_RUN_WORDS = (
    "the council voted on a plan to rebuild the harbor bridge after years "
    "of delay while residents asked how the city would pay for"
).split()


def long_run_pages(n_items: int = 2000, seed: int = 11) -> dict[str, str]:
    """Pages of ``n_items`` same-level content blocks that the proximity
    fusion filters merge into one long run, shared by the parity gate and
    the ASan run: a ``<p>`` run, a ``<ul><li>`` list, a ``<table>``, and
    the ``<p>`` run with an ld+json headline, which the kernel resolves
    before it filters."""
    rng = random.Random(seed)

    def sentence():
        n = rng.randint(18, 30)
        return " ".join(rng.choice(_RUN_WORDS) for _ in range(n)) + "."

    def page(body, head=""):
        return ("<html><head><title>Harbor notes</title>" + head
                + "</head><body><h1>Harbor notes</h1>" + body
                + "</body></html>")

    paras = "".join(f"<p>{sentence()}</p>" for _ in range(n_items))
    ld = ('<script type="application/ld+json">'
          '{"@type":"Article","headline":"Harbor notes today"}</script>')
    return {
        "paragraphs": page(paras),
        "list": page("<ul>" + "".join(
            f"<li>{sentence()}</li>" for _ in range(n_items)) + "</ul>"),
        "table": page("<table>" + "".join(
            f"<tr><td>{sentence()}</td></tr>" for _ in range(n_items))
            + "</table>"),
        "ldjson_paragraphs": page(paras, ld),
    }
