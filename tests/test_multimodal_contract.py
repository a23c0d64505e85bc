"""Output contract of the multimodal pack: every registered
``multimodal_*`` query's column names, order and types, pinned as
``df.schema.simpleString()``.

The oracle parity sweep (``oracle_harness.compare_query``) compares
columns sorted by name, so it cannot see a reordered or retyped
column in a ``SELECT *`` over the wire; this test can."""

from __future__ import annotations

import pytest

import peerdb_cdc_psql_psql_spark.operators  # noqa: F401  (registers queries)
from peerdb_cdc_psql_psql_spark.registry import REGISTRY

_SCHEMAS = {
    "multimodal_adpcm_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,peak:bigint,mean_abs:bigint>"
    ),
    "multimodal_adpcm_stereo_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,sum_samples:bigint,min_sample:bigint,"
        "max_sample:bigint>"
    ),
    "multimodal_alaw_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,peak:bigint,mean_abs:bigint>"
    ),
    "multimodal_audio_frames": (
        "struct<media_id:bigint,frame_idx:bigint,"
        "frame_samples:bigint,peak:bigint,mean_abs:bigint,"
        "zero_crossings:bigint>"
    ),
    "multimodal_bmp_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,mean_r:bigint,mean_g:bigint,mean_b:bigint>"
    ),
    "multimodal_decode_stats": (
        "struct<media_type:string,n_decoded:bigint,"
        "total_payload_bytes:bigint>"
    ),
    "multimodal_flac_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_samples:bigint,"
        "sum_samples:bigint,min_sample:bigint,max_sample:bigint,"
        "compressed:bigint>"
    ),
    "multimodal_flac_multichannel_decode": (
        "struct<media_id:bigint,n_channels:bigint,"
        "channel_mode:string,n_samples:bigint,sum_samples:bigint,"
        "min_sample:bigint,max_sample:bigint>"
    ),
    "multimodal_flac_stereo_decode": (
        "struct<media_id:bigint,n_channels:bigint,"
        "channel_mode:string,n_samples:bigint,sum_samples:bigint,"
        "min_sample:bigint,max_sample:bigint>"
    ),
    "multimodal_frame_sample": (
        "struct<media_id:bigint,frame_idx:bigint>"
    ),
    "multimodal_gif_anim_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_frames:bigint,total_delay_cs:bigint,disposal1:bigint,"
        "final_sum_r:bigint,final_sum_g:bigint,final_sum_b:bigint,"
        "first_sum_r:bigint>"
    ),
    "multimodal_gif_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,n_colors:bigint,local_table:boolean,"
        "interlaced:boolean,sum_r:bigint,sum_g:bigint,sum_b:bigint,"
        "row_weighted_r:bigint>"
    ),
    "multimodal_interlaced_png_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,n_pixels:bigint,sum_r:bigint,sum_g:bigint,"
        "sum_b:bigint>"
    ),
    "multimodal_jpeg_420_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "multimodal_jpeg_cmyk_decode": (
        "struct<media_id:bigint,transform:bigint,width:bigint,"
        "height:bigint,n_channels:bigint,sum_c:bigint,sum_k:bigint,"
        "sum_r:bigint>"
    ),
    "multimodal_jpeg_color_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "multimodal_jpeg_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_gray:bigint>"
    ),
    "multimodal_jpeg_dri_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "sum_gray:bigint,restart_interval:bigint,n_restarts:bigint>"
    ),
    "multimodal_jpeg_exif_orientation": (
        "struct<media_id:bigint,orientation:bigint,width:bigint,"
        "height:bigint,sum_gray:bigint,wsum_row:bigint,"
        "wsum_col:bigint>"
    ),
    "multimodal_jpeg_noninterleaved_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_scans:bigint,subsampled:boolean,sum_r:bigint,sum_g:bigint,"
        "sum_b:bigint>"
    ),
    "multimodal_manifest_stats": (
        "struct<media_type:string,n_media:bigint,total_bytes:bigint,"
        "max_width:int,total_frames:bigint>"
    ),
    "multimodal_mjpg_frame_sample": (
        "struct<media_id:bigint,frame_idx:bigint,n_frames:bigint,"
        "width:bigint,height:bigint,mean_gray:bigint>"
    ),
    "multimodal_mp4_frame_sample": (
        "struct<media_id:bigint,frame_idx:bigint,n_frames:bigint,"
        "width:bigint,height:bigint,duration_ts:bigint,"
        "mean_gray:bigint>"
    ),
    "multimodal_palette_png_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,n_pixels:bigint,sum_r:bigint,sum_g:bigint,"
        "sum_b:bigint>"
    ),
    "multimodal_png16_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,n_pixels:bigint,sum_r:bigint,sum_g:bigint,"
        "sum_b:bigint>"
    ),
    "multimodal_png_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,n_pixels:bigint,sum_r:bigint,sum_g:bigint,"
        "sum_b:bigint>"
    ),
    "multimodal_progressive_jpeg_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "multimodal_resize_stats": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,mean_r:bigint,mean_g:bigint,mean_b:bigint>"
    ),
    "multimodal_tiff16_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "bits:bigint,layout:string,compression:string,"
        "predictor:bigint,sum_gray:bigint>"
    ),
    "multimodal_tiff_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,compression:string,predictor:bigint,"
        "n_strips:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "multimodal_tiff_float_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "bits:bigint,compression:string,predictor:bigint,"
        "n_strips:bigint,sum_val:bigint>"
    ),
    "multimodal_tiff_float_tiled_decode": (
        "struct<media_id:bigint,layout:string,planar:bigint,"
        "compression:string,predictor:bigint,width:bigint,"
        "height:bigint,n_channels:bigint,n_segments:bigint,"
        "sum_val:bigint>"
    ),
    "multimodal_tiff_tiled_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "layout:string,planar:boolean,compression:string,"
        "predictor:bigint,n_segments:bigint,sum_r:bigint,"
        "sum_g:bigint,sum_b:bigint>"
    ),
    "multimodal_ulaw_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,peak:bigint,mean_abs:bigint>"
    ),
    "multimodal_video_frame_sample": (
        "struct<media_id:bigint,frame_idx:bigint,n_frames:bigint,"
        "width:bigint,height:bigint,mean_r:bigint,mean_g:bigint,"
        "mean_b:bigint>"
    ),
    "multimodal_wav_decode": (
        "struct<media_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,duration_ms:bigint,peak:bigint,"
        "mean_abs:bigint>"
    ),
    "multimodal_webp_anim_decode": (
        "struct<media_id:bigint,canvas_w:bigint,canvas_h:bigint,"
        "n_frames:bigint,loop_count:bigint,total_duration_ms:bigint,"
        "disposed_frames:bigint,final_sum_r:bigint,"
        "final_sum_g:bigint,final_sum_b:bigint,first_sum_r:bigint>"
    ),
    "multimodal_webp_decode": (
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,transforms:string,cache_bits:bigint,"
        "sum_r:bigint,sum_g:bigint,sum_b:bigint,sum_a:bigint,"
        "col_weighted_r:bigint>"
    ),
}


def test_every_multimodal_query_is_pinned():
    registered = sorted(n for n in REGISTRY if n.startswith("multimodal_"))
    assert registered == sorted(_SCHEMAS)


@pytest.mark.parametrize("name", sorted(_SCHEMAS))
def test_multimodal_output_schema(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.schema.simpleString() == _SCHEMAS[name]
