from big_data_pipeline_spark.multimodal.columns import (  # noqa: F401
    MEDIA_META_SCHEMA,
    RASTER_STATS_DDL,
    attach_fake_media,
    attach_ppm_media,
    attach_wav_media,
    byte_histogram_features,
    decode_image,
    decode_netpbm,
    decode_png,
    decode_wav,
    decoded_audio_features,
    decoded_pixel_features,
    encode_png,
    frame_sample,
    gif_payload,
    image_ahash,
    jpeg_payload,
    map_payload,
    png_payload,
    raster_stats,
    resize_image,
    resize_netpbm,
)
from big_data_pipeline_spark.multimodal.gif import (  # noqa: F401
    decode_gif,
    encode_gif,
)
from big_data_pipeline_spark.multimodal.jpeg import (  # noqa: F401
    decode_jpeg_baseline,
    encode_jpeg_baseline,
)
