"""Multimodal columns (EXT, SURVEY.md §2B): image/audio/video as opaque
binary columns with typed metadata, processed by Arrow-batched
``mapInPandas`` pipelines.

Every media family is a table entry: ``make_*_bytes(doc_id)`` in
``synth.py`` builds a spec-compliant payload, and a ``Decoder`` in
``decode.py`` (MP3: ``dec_mp3.py``) pairs the module-level walker
``walk_*(doc_id, raw) -> rows`` with its output schema.  One adapter,
``functions.per_doc``, hosts every walker: ``decoder(media_df)``
decodes a ``doc_id, payload`` frame, and ``synth_decode(docs, make,
decoder)`` builds and decodes each payload inside one Python stage.

The container has no codec libraries, but the codec families are
decoded in pure stdlib anyway — WAV, BMP, PNG (DEFLATE + scanline
unfilters, all color types, Adam7), JPEG (baseline through progressive
with restart intervals), GIF (variable-width LZW), FLAC, WebP VP8L,
TIFF, MP3 (every B.7 Huffman table incl. linbits escapes, requant,
stereo, exact filterbank) and H.264 CAVLC pictures — with the
remaining depth (CABAC and kin) behind declared ``NotImplementedError``
boundaries that name their spec clause and carry rejection tests.  Media rows are large, so
partitions are sized by bytes and payloads are never collected to the
driver.
"""

from .schema import (
    IMAGE_META_SCHEMA,
    MEDIA_SCHEMA,
    with_media_payload,
)

# decode re-exports are LAZY (PEP 562): a Spark worker importing
# dec_mp3 must not execute decode.py as a side effect of this
# package's __init__.
_DECODE_NAMES = frozenset({
    "audio_chunk_energy", "block_mean_resize", "byte_histogram",
    "decode_bmp_real", "decode_image_meta", "decode_wav_real",
    "perceptual_hash", "sample_frames", "wav_window_features",
})


def __getattr__(name):
    if name in _DECODE_NAMES:
        from . import decode

        value = getattr(decode, name)
        globals()[name] = value
        return value
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_META_SCHEMA",
    "with_media_payload",
    "audio_chunk_energy",
    "block_mean_resize",
    "byte_histogram",
    "perceptual_hash",
    "decode_image_meta",
    "decode_wav_real",
    "decode_bmp_real",
    "wav_window_features",
    "sample_frames",
]
