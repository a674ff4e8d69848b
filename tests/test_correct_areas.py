"""Correction stage + targeted area re-extraction (reference lifecycle
stages 2 and 5: processor.py:117-200, 253)."""

import pyspark.sql.functions as F

from ocr_service_spark.kernel.correct import (
    apply_corrections_map,
    contextual_digit_fix,
)
from ocr_service_spark.kernel.htmlgen import htmlify_roundtrip
from ocr_service_spark.operators.areas import (
    extract_area_texts,
    spliced_text,
    with_area_extraction,
)


def test_contextual_digit_fix_kernel():
    text = "г0род и д8ор, НО 100 и ОКN8 остаются"
    fixed, corrs = contextual_digit_fix(text)
    assert "город" in fixed and "двор" in fixed
    assert "100" in fixed, "pure digit runs untouched"
    # ОКN8: 'N' is latin → token regex splits it; the Cyrillic piece has
    # no 0/8 → untouched
    methods = {c["method"] for c in corrs}
    assert methods == {"contextual_russian_word"}
    up, _ = contextual_digit_fix("ПЛ0ЩАДЬ")
    assert up == "ПЛОЩАДЬ", "all-caps token gets uppercase О"


def test_apply_corrections_map_single_pass():
    text = "было Маркуталь и еще раз Маркуталь"
    fixed, applied = apply_corrections_map(text, {"Маркуталь": "Мариуполь"})
    assert fixed.count("Мариуполь") == 2
    assert len(applied) == 2
    assert applied[0]["confidence"] == 1.0


def test_area_extraction_kernel_and_udf(spark):
    html = htmlify_roundtrip("alpha bravo charlie delta echo foxtrot "
                             "golf hotel india juliet kilo lima mike", 7)
    texts = extract_area_texts(html, [0, 999])
    assert texts[0] is not None and texts[1] is None

    df = spark.createDataFrame([(7, bytearray(html), [0])],
                               "doc_id long, html binary, selected_nodes array<int>")
    out = with_area_extraction(df).withColumn(
        "spliced", spliced_text(F.col("area_texts"), F.lit("MAIN")))
    row = out.collect()[0]
    assert row.area_texts[0] == texts[0]
    assert row.spliced.startswith("[Область 1]: ")
    assert row.spliced.endswith("\n\nMAIN")


def test_pipeline_carries_corrections(spark):
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.pipeline import process_documents

    out = process_documents(corpus_df(spark, 80, partitions=4))
    ru = out.filter(
        (F.col("lang") == "ru") & (F.col("kind") == "html")
        & (F.size("corrections_applied") > 0)
    ).select("extracted_text", "corrected_text", "corrections_applied").first()
    assert ru is not None, "seeded ru docs must trigger corrections"
    originals = {c.original for c in ru.corrections_applied}
    assert "Маркуталь" in originals or any("0" in o or "8" in o for o in originals)
    assert "г0род" not in ru.corrected_text
    assert "Мариуполь" in ru.corrected_text or "Маркуталь" not in ru.corrected_text


def test_correct_document_fusion_parity():
    """The one-pass correct_document must be byte-identical to
    contextual_digit_fix ∘ apply_corrections_map, including record
    order (digit fixes first, then map hits on the FIXED tokens)."""
    from ocr_service_spark.kernel.correct import (
        apply_corrections_map,
        contextual_digit_fix,
        correct_document,
    )

    cmap = {"О": "0", "Маркуталь": "Мариуполь", "г0род": "NEVER"}
    cases = [
        "г0род пл0щадь 8ыдан 123 О 08 Маркуталь",
        "",
        "only latin words 0 8 here",
        "О О О",
        "сл08о-др0во и д0м",
        "8 марта д0м 2020 год",
        "0в8е 0В8Е миксед0",
    ]
    for t in cases:
        f1, a = contextual_digit_fix(t)
        f2, b = apply_corrections_map(f1, cmap)
        g, c = correct_document(t, cmap)
        assert g == f2, t
        assert c == a + b, t
    # the map must see the digit-FIXED token, not the original:
    # 'г0род' fixes to 'город', so cmap['г0род'] must NOT fire
    g, c = correct_document("г0род", cmap)
    assert g == "город"
    assert [x["method"] for x in c] == ["contextual_russian_word"]
