"""Pinned bytes of the per-document binary fixtures in queries.py.

The oracle gate compares decoded values, and those do not depend on how
a fixture encodes them: a chunked or gzip WARC record, a PDF stream
filter or an ObjStm layout can silently drop out of a fixture and every
query still matches DuckDB.  These hashes pin each fixture frame's
(doc_id, content) bytes at sf0.001, so any change to what a fixture
emits — not only to what it decodes to — fails here.
"""

from __future__ import annotations

import pytest

from occupation_wage_etl_spark import queries as Q
from tools.harness import collect, value_hash

# fixture -> (builder, sha256 of its collected frame)
FIXTURES = {
    "png": (
        lambda d: Q._synth_png(d, 8),
        "d107f2ce022ace02501eafd156fb5d068e5217332505dbabab3b63c91e39c4fa",
    ),
    "wav": (
        lambda d: Q._synth_wav(d),
        "fc4fa535b4fe356c46261c4cf555df8562a7faf1230f3b14b0d63f4df2b78bc6",
    ),
    "jpeg": (
        lambda d: Q._synth_jpeg(d, Q.multimodal.encode_jpeg_gray_coeffs),
        "63dbfc9a4e68f7bc266c53e32e23e8e0df1044f8524a8ace4b34a5bea9dbf7ca",
    ),
    "mp4": (
        lambda d: Q._synth_mp4(d),
        "3d536d697d661b48666ac23fa79a9d4266bea7a82b24e6745e7fccb58fb6f609",
    ),
    "jpeg_color": (
        lambda d: Q._synth_jpeg_color(
            d, Q.multimodal.encode_jpeg_ycbcr420_coeffs
        ),
        "c7db79c16375b015621b502e6a1fda064860615b859ca9dd29c32a2336f9e8ea",
    ),
    "jpeg_prog": (
        lambda d: Q._synth_jpeg(
            d, Q.multimodal.encode_jpeg_progressive_gray_coeffs
        ),
        "a9fdde94c0cae60d100f3b04b946206cb3fd8c5c5d32c415d31fd1bf792584e3",
    ),
    "jpeg_color_prog": (
        lambda d: Q._synth_jpeg_color(
            d, Q.multimodal.encode_jpeg_progressive_ycbcr420_coeffs
        ),
        "d7174641e68b102ce29daad892b56dc7740e3a4839d9f4f6b767c908df4cdba4",
    ),
    "mp4_sps": (
        lambda d: Q._synth_mp4_sps(d),
        "49c59494073e0a544b734fb9f082ff9984f228a16590ddc34137c57a3dff09b4",
    ),
    "flac": (
        lambda d: Q._synth_flac(d),
        "ccf2be51fc0ce62926a5930e22a9cdb64019c799f419ce87c7ad3d10c8dd91b9",
    ),
    "id3": (
        lambda d: Q._synth_id3(d),
        "e5ee2739a4a4f7b3c636f780965222bb6b89afb06614827a8ea061febb688e8d",
    ),
    "h264_coeffs": (
        lambda d: Q._synth_h264_coeffs(d),
        "a93a90d479abffc2803c6d507db52980fdb5a660d70b14e8b886805e795bf9a2",
    ),
    "h264_chain": (
        lambda d: Q._synth_h264_chain(d),
        "fa634fd3666c003be03c36a977f953bac37a7ce47c66ddd4f6f062a21f99014b",
    ),
    "h264_i4x4": (
        lambda d: Q._synth_h264_i4x4(d),
        "42c08a28de63cd71b1df66a3e099bd923d9757c97e45d1fea776fac71b6b3c29",
    ),
    "mp4_vui": (
        lambda d: Q._synth_mp4_vui(d),
        "798ba6acead99c92dfa9a783d072bafe328e617c5f046d8f268bbf53ef1567fd",
    ),
    "h264_slices": (
        lambda d: Q._synth_h264_slices(d),
        "a3e8fc3285187ff8dbe5a4a1b855740310c4c90b47e3a1d65e7142ec02402f91",
    ),
    "h264_groups": (
        lambda d: Q._synth_h264_chain(d, groups=37),
        "55d5421cf158b7eb5c16c6d0da74a60a79af51e3b0e9198c2730d24411436629",
    ),
    "pdf": (
        lambda d: Q._synth_pdf(d),
        "e265843f56ed4b54a9c419901b41d90aae5e916e5c4b3636acfe7109a4e918ad",
    ),
    "pdf_groups": (
        lambda d: Q._synth_pdf_groups(d),
        "ddea28fda73b3d913b4c14762feca71254318b7e010310c48b3c83740837f79a",
    ),
    "docx": (
        lambda d: Q._synth_docx(d),
        "f633be926e945c3e7ab7d1c10c5f8340d3b774288f702e1f11ad49ea0fa3a8e4",
    ),
    "audio": (
        lambda d: Q._synth_audio(d),
        "d2e3f5cf7202bdbe1c4fc9efb1471f8cd8b79390bafbdc0457967cd8bda1f1b7",
    ),
    "warc": (
        lambda d: Q._synth_warc(d),
        "77f68e161c3a3caa6361bcb9b6a71c9ff2395a20e2d276412ba26763c1e4001a",
    ),
    "wet": (
        lambda d: Q._synth_wet(d),
        "a75d59e63fe09d46cb519c3aa99faeb3c2668df7514d47f9d6f4d594234b2933",
    ),
    "charset_bytes": (
        lambda d: Q._synth_charset_bytes(d),
        "4bbf80a49370946fbc8c4d88dbe467e5104574620f0052b427966b9165756f61",
    ),
    "pdf_cid": (
        lambda d: Q._synth_pdf_cid(d),
        "ddf479ecab696ba6c1d1e3004354d565eaef9ebbe8d08b5f0ede887b93dd7514",
    ),
    "docx_parts": (
        lambda d: Q._synth_docx_parts(d),
        "44ef3e4c33c02c6155fc6195f323831e9004e16426ba3965dc27b0cf9cac3685",
    ),
    "web_archives": (
        lambda d: Q._synth_web_archives(d),
        "8939de61f0bf30945b76a52aa744663b6f0f0b0e5b41ca1109085e791a0ce276",
    ),
    "png9": (
        lambda d: Q._synth_png(d, 9),
        "7641255dc6dc80c5e546184c366348bbdc6693b27728702be770f9afe0e513ea",
    ),
    "png9_groups": (
        lambda d: Q._synth_png9_groups(d),
        "b22c8b94319e5703b864c105bdd81c5b2dae426f8612ea926369282b243f9fed",
    ),
    "declared_charset_warc": (
        lambda d: Q._synth_declared_charset_warc(d),
        "6473ab38c72472cce9dc5ef4ec84560238f27057ecd80cae33d906758cfe8566",
    ),
    "revisit_warc": (
        lambda d: Q._synth_revisit_warc(d),
        "de4c93cc78fe27a467176dec24af745a3a31c5e06c354fd3a4fc56e9d50b53ce",
    ),
    "redirect_warc": (
        lambda d: Q._synth_redirect_warc(d),
        "3859a802b39f8e2604e01a21f5ed5e2b42fe462f46daf1cf780b13fe6a485ea7",
    ),
    "digest_warc": (
        lambda d: Q._synth_digest_warc(d),
        "8a4d0ff82195861727633d5870fbd6ee051ad04e016fc3b1409b2cc2c9b04fcb",
    ),
    "pdf_encodings": (
        lambda d: Q._synth_pdf_encodings(d),
        "8f2f95e54cbfbb56e267ba3fc1c4ab47e82993ddc65cac073da8a1e28267ebe0",
    ),
    "pdf_encrypted": (
        lambda d: Q._synth_pdf_encrypted(d),
        "9a3443916c24ee70c0d38888885dae26d27e875b36866310cb3e337e6b77064c",
    ),
    "cache_warc": (
        lambda d: Q._synth_cache_warc(d),
        "676adeb10c39718f2a20f9799c9e45f5a4afc08a105de34f8f67b155ed679d5d",
    ),
    "cache_warc_multi_host": (
        lambda d: Q._synth_cache_warc(d, multi_host=True),
        "547cabaac4cf38c67dfb2de6d97af9541185d83cf8e2310d2cda578d772168d2",
    ),
    "wat": (
        lambda d: Q._synth_wat(d),
        "bce5cabd630d1cc6cdd916959656dd4b6621eff3f466066bb0cce1c9ce75614f",
    ),
}


@pytest.fixture(scope="module")
def docs(spark, sf_tiny):
    return Q._t(spark, sf_tiny, "documents")


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_fixture_bytes_pinned(docs, name):
    build, expected = FIXTURES[name]
    frame = build(docs)
    rows, cols = collect(frame)
    assert cols == ["doc_id", "content"]
    assert len(rows) == docs.count()
    assert value_hash(rows, cols) == expected
