"""Arrow-vectorized UDFs wrapping the NumPy kernel and the stripper.

The learned alphabet travels as a plain dict of ndarrays captured by the UDF
closure (Spark pickles it once per executor — ~30 KB, the broadcast-variable
pattern without the broadcast plumbing). Both UDFs run one Python call per
row: the stripper one tag scan per document (ocr_spark.html.strip), the OCR
kernel one page at a time, memoized by glyph matrix (ocr_spark.kernel.engine)."""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..html.strip import strip_html
from ..kernel.classify import Alphabet


#: font sheets bundled with the package (Java-gray canonical rasters; the
#: reference ships the same two fonts, OCR.java / fonts/*.png)
BUNDLED_FONTS = ("arial", "courier")


def default_alphabet() -> Alphabet:
    return load_alphabet(("arial",))


@functools.lru_cache(maxsize=4)
def load_alphabet(fonts: tuple = ("arial",)) -> Alphabet:
    """Learn the named bundled sheets once per process. Only the driver
    calls this (workers rebuild from the pickled dict with
    ``Alphabet.from_dict``); the learn takes about 0.2-0.3 s for arial and
    0.4-0.5 s for arial+courier on a 4-core VM. Multiple fonts accumulate
    into one template set, exactly the reference's repeated learn()
    (CurvatureClassifier.java:45-79)."""
    # importlib.resources: works both from the source tree and from the
    # --py-files zip (plain open() fails inside a zipimported package)
    from importlib import resources

    from ..png import decode_gray

    for f in fonts:
        if f not in BUNDLED_FONTS:
            raise ValueError(f"unknown font {f!r}; bundled: {BUNDLED_FONTS}")
    alpha = Alphabet()
    for f in fonts:
        raw = resources.files("ocr_spark").joinpath(f"data/{f}.gray.png").read_bytes()
        alpha.learn_sheet(decode_gray(raw), f)
    return alpha


def make_strip_udf():
    @pandas_udf(T.StringType())
    def strip_udf(html: pd.Series) -> pd.Series:
        return strip_html(html)

    return strip_udf


def make_ocr_udf(
    alphabet: Alphabet | None = None,
    character_spacing: float = 8.0,
    deskew: bool = False,
    erase_lines_min_inches: float | None = None,
    lexicon: list[str] | None = None,
    lexicon_max_errors: int = 0,
    char_classes: str | None = None,
    fonts: tuple | list | None = None,
):
    """OCR a batch of PNG blobs. The alphabet dict rides in the closure;
    workers rebuild the Alphabet lazily and reuse it across batches.

    Optional preprocessing/resolver config (all engine-level, per SURVEY
    §2.2/§2.6): ``deskew`` (P6+P9), ``erase_lines_min_inches`` (P11),
    ``lexicon``+``lexicon_max_errors`` (L1/L2 word filter: non-matching
    words are dropped from the page text), ``char_classes`` (L3/L4 alphabet
    subset, e.g. "0123456789" for numeric fields), ``fonts`` (bundled
    sheets to accumulate, T1 multi-font — ignored when an explicit
    ``alphabet`` is passed)."""
    if alphabet is None:
        alphabet = load_alphabet(tuple(fonts)) if fonts else default_alphabet()
    alpha_dict = alphabet.to_dict()
    state: dict = {}

    @pandas_udf(T.StringType())
    def ocr_udf(png: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F401  (worker-side import)

        from ..kernel.engine import recognize
        from ..kernel.resolver import WordResolver, char_class_mask
        from ..kernel.segment import Settings
        from ..png import decode_gray

        if "alpha" not in state:
            state["alpha"] = Alphabet.from_dict(alpha_dict)
            state["settings"] = Settings(character_spacing=character_spacing)
            state["accept"] = (
                char_class_mask(state["alpha"].chars, char_classes)
                if char_classes is not None
                else None
            )
            state["accept_word"] = (
                WordResolver(lexicon_max_errors, lexicon).accept_word if lexicon else None
            )
        alpha = state["alpha"]
        settings = state["settings"]

        def one(blob):
            if blob is None:
                return None
            return recognize(
                decode_gray(bytes(blob)),
                settings,
                alpha,
                deskew=deskew,
                erase_lines_min_inches=erase_lines_min_inches,
                accept_word=state["accept_word"],
                accept=state["accept"],
            )

        return png.map(one)

    return ocr_udf
