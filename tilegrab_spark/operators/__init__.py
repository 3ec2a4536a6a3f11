from tilegrab_spark.operators.tiles import (
    enumerate_tiles,
    enumerate_tiles_for_geoms,
    refine_by_shape,
    tiles_for,
)
from tilegrab_spark.operators.image_join import join_images
from tilegrab_spark.operators.mosaic import mosaic, MOSAIC_SCHEMA
from tilegrab_spark.operators.knn import knn_join
from tilegrab_spark.operators.components import connected_components, dedup_by_components
from tilegrab_spark.operators.pyramid import (
    build_parent_level,
    build_pyramid,
    dirty_ancestors,
    refresh_pyramid,
)
from tilegrab_spark.operators.footprint import coverage_footprints
from tilegrab_spark.operators.augment import AUGMENT_OPS, augment_images
from tilegrab_spark.operators.cover import adaptive_cover, compact_cover, uncompact_cover
from tilegrab_spark.operators.funnel import funnel_counts, funnel_progress
from tilegrab_spark.operators.graph import (
    hits,
    hop_distance,
    k_core,
    pagerank,
    personalized_pagerank,
    shortest_paths,
    triangle_count,
)
from tilegrab_spark.operators.metadata import (
    IMAGE_METADATA_SCHEMA,
    extract_image_metadata,
    geotag_cells,
    strip_image_metadata,
)
from tilegrab_spark.operators.pca import PCAModel, fit_pca, transform_pca
from tilegrab_spark.operators.retrieval import (
    TextIndex,
    bm25_search,
    bm25_topk,
    build_text_index,
)
from tilegrab_spark.operators.classifier import (
    hashed_token_features,
    score_documents,
    train_quality_classifier,
)
from tilegrab_spark.operators.terrain import terrain_stats
from tilegrab_spark.operators.timeseries import epoch_composite, raster_trend
from tilegrab_spark.operators.emerging import emerging_hotspots, mann_kendall
from tilegrab_spark.operators.polygonize import (
    polygonize,
    polygons_geojson,
    polygons_lonlat,
)
from tilegrab_spark.operators.sieve import sieve, sieve_apply, sieve_labels
from tilegrab_spark.operators.majority import majority_filter, window_mode
from tilegrab_spark.operators.costdistance import cost_distance
from tilegrab_spark.operators.isochrones import cost_bands, isochrones
from tilegrab_spark.operators.sightline import line_of_sight
from tilegrab_spark.operators.geodesy import geodesic_measures, region_geodesic_areas
from tilegrab_spark.operators.histmatch import (
    build_matching_lut,
    channel_histograms,
    match_histograms,
)
from tilegrab_spark.operators.hydrology import (
    flow_accumulation,
    flow_direction,
    stream_network,
    watersheds,
)
from tilegrab_spark.operators.ngram_lm import perplexity_score, train_bigram_lm
from tilegrab_spark.operators.bloom import (
    bloom_anti_join,
    bloom_build,
    bloom_merge,
    bloom_parameters,
    bloom_probe,
)
from tilegrab_spark.operators.layout import (
    cluster_by_space,
    morton_bbox_predicate,
    morton_ranges_for_bbox,
    partition_extent_stats,
    with_hilbert_key,
    with_morton_key,
)
from tilegrab_spark.operators.sessions import session_summary, sessionize
from tilegrab_spark.operators.verify import verify_images
from tilegrab_spark.operators.dedup import (
    check_sig_version,
    embedding_cosine_pairs,
    exact_dedup,
    duplicate_groups,
    hamming_near_dup_pairs,
    lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    phash_near_dup_pairs,
    release_signature_caches,
    simhash_pairs,
    with_minhash,
    with_shingles,
    with_simhash,
)
from tilegrab_spark.operators.audiosim import audio_fingerprints, audio_match_pairs
from tilegrab_spark.operators.videosim import video_fingerprints, video_match_pairs
from tilegrab_spark.operators.crossmodal import (
    cross_modal_image_pairs,
    cross_modal_pairs,
)
from tilegrab_spark.operators.algebra import band_math, compile_band_expr
from tilegrab_spark.operators.asof import asof_join
from tilegrab_spark.operators.focal import focal_box_stats
from tilegrab_spark.operators.rangejoin import interval_join, range_join
from tilegrab_spark.operators.sketches import (
    cms_estimate,
    cms_inner_product,
    cms_merge,
    cms_sketch,
    hll_distinct,
    hll_merge,
    hll_registers,
    hll_summary,
    join_size_estimate,
    kmv_estimate,
    kmv_merge,
    kmv_set_estimates,
    kmv_sketch,
)
from tilegrab_spark.operators.change import change_summary, mean_ssim, tile_diff
from tilegrab_spark.operators.dissolve import adjacency_edges, dissolve_tiles
from tilegrab_spark.operators.cluster import cluster_summary, grid_dbscan
from tilegrab_spark.operators.dsir import (
    dsir_log_weights,
    dsir_topk_sample,
    hashed_ngram_features,
    ngram_profile,
)
from tilegrab_spark.operators.hull import convex_hull, monotone_chain
from tilegrab_spark.operators.hexbin import (
    hex_center_cols,
    hex_hotspots,
    hex_neighbors,
    hexbin,
    with_hex_cell,
)
from tilegrab_spark.operators.matching import match_tracks
from tilegrab_spark.operators.linesample import sample_raster_along
from tilegrab_spark.operators.snap import explode_segments, snap_points_to_lines
from tilegrab_spark.operators.warp import (
    resample_window,
    upsample_tiles,
    warp_tiles,
)
from tilegrab_spark.operators.urls import (
    canonicalize_url,
    cap_per_domain,
    domain_stats,
    filter_blocked_domains,
    registered_domain,
    with_url_parts,
)
from tilegrab_spark.operators.bpe import (
    bpe_vocab,
    encode_bpe,
    train_bpe,
    word_counts,
)
from tilegrab_spark.operators.overlay import (
    areal_interpolate,
    spatial_join_polygons,
    tile_polygon_areas,
    with_polygon_bbox,
)
from tilegrab_spark.operators.points import points_in_polygons
from tilegrab_spark.operators.rasterize import rasterize_geometries, rasterize_lines
from tilegrab_spark.operators.viewshed import viewshed
from tilegrab_spark.operators.vectortiles import (
    contours_to_mvt,
    generalize_rings,
    polygons_to_mvt,
    ring_pyramid,
)
from tilegrab_spark.operators.trajectory import (
    haversine_m,
    od_matrix,
    stay_points,
    track_stats,
    with_legs,
)
from tilegrab_spark.operators.tracksim import (
    track_candidate_pairs,
    track_point_arrays,
    track_similarity_join,
)
from tilegrab_spark.operators.render import (
    bin_points,
    interpolate_idw_tiles,
    render_binned,
    render_density_tiles,
)
from tilegrab_spark.operators.kriging import (
    empirical_variogram,
    fit_variogram,
    krige_tiles,
    variogram_gamma,
)
from tilegrab_spark.operators.contour import (
    assemble_contours,
    contour_lonlat,
    contours_geojson,
    extract_contours,
    link_contours,
    simplify_contours,
)
from tilegrab_spark.operators.zonal import zonal_from_labels, zonal_stats
from tilegrab_spark.operators.spatialstats import (
    getis_ord_gi,
    local_morans,
    morans_i,
    spatial_lag,
)
from tilegrab_spark.operators.packing import (
    aspect_bucket_batches,
    grouped_rank,
    pack_sequences,
    pack_shards,
    sequence_manifest,
    shard_manifest,
)
from tilegrab_spark.operators.distancejoin import (
    auto_block_zoom,
    within_distance_join,
    within_distance_pairs,
)
from tilegrab_spark.operators.splits import (
    spatial_split,
    split_leakage_report,
    with_block_cell,
)
from tilegrab_spark.operators.sampling import (
    mixture_rates,
    sample_hash,
    sample_mixture,
    stratified_sample,
    stratified_topn,
    weighted_sample,
    weighted_sample_key,
)
from tilegrab_spark.operators.decontaminate import contamination_hits, decontaminate
from tilegrab_spark.operators.profile import profile_table
from tilegrab_spark.operators.spans import duplicate_spans, scrub_spans
from tilegrab_spark.operators.heavyhitters import (
    heavy_hitters,
    mg_candidates,
    skew_profile,
)
from tilegrab_spark.operators.similarity import (
    append_to_ivf_index,
    ivf_list_stats,
    ann_topk_ivf,
    build_ivf_index,
    cosine_topk,
    kmeans_refine,
    search_ivf_index,
)
from tilegrab_spark.operators.quantization import (
    build_ivfpq_index,
    encode_pq,
    pq_topk,
    rerank_exact,
    search_ivfpq_index,
    train_pq,
)
from tilegrab_spark.operators.text import (
    with_clean_text,
    with_fingerprint,
    with_lang_id,
    with_pii_scrubbed,
    with_quality_score,
    with_repetition_signals,
    with_token_counts,
)
from tilegrab_spark.operators.multimodal import (
    audio_features,
    audio_metadata,
    video_metadata,
    decode_summary,
    image_features,
    image_quality_signals,
    resize_images,
    sample_frames,
)

__all__ = [
    "cluster_by_space",
    "morton_bbox_predicate",
    "morton_ranges_for_bbox",
    "partition_extent_stats",
    "with_hilbert_key",
    "with_morton_key",
    "enumerate_tiles",
    "enumerate_tiles_for_geoms",
    "refine_by_shape",
    "tiles_for",
    "join_images",
    "mosaic",
    "MOSAIC_SCHEMA",
    "knn_join",
    "connected_components",
    "adaptive_cover",
    "augment_images",
    "AUGMENT_OPS",
    "shortest_paths",
    "hop_distance",
    "pagerank",
    "personalized_pagerank",
    "triangle_count",
    "hits",
    "k_core",
    "funnel_progress",
    "funnel_counts",
    "od_matrix",
    "extract_image_metadata",
    "geotag_cells",
    "strip_image_metadata",
    "IMAGE_METADATA_SCHEMA",
    "fit_pca",
    "transform_pca",
    "PCAModel",
    "bm25_search",
    "bm25_topk",
    "build_text_index",
    "TextIndex",
    "dedup_by_components",
    "build_parent_level",
    "build_pyramid",
    "dirty_ancestors",
    "refresh_pyramid",
    "verify_images",
    "coverage_footprints",
    "sessionize",
    "session_summary",
    # dedup / near-dup
    "exact_dedup",
    "duplicate_groups",
    "with_shingles",
    "with_minhash",
    "minhash_lsh_pairs",
    "lsh_dedup",
    "release_signature_caches",
    "with_simhash",
    "simhash_pairs",
    "hamming_near_dup_pairs",
    "phash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "check_sig_version",
    # similarity search
    "cosine_topk",
    "ann_topk_ivf",
    "kmeans_refine",
    "append_to_ivf_index",
    "ivf_list_stats",
    "build_ivf_index",
    "search_ivf_index",
    "train_pq",
    "encode_pq",
    "pq_topk",
    "rerank_exact",
    "build_ivfpq_index",
    "search_ivfpq_index",
    # sampling / mixing / packing / scrubbing
    "sample_hash",
    "stratified_sample",
    "stratified_topn",
    "weighted_sample",
    "weighted_sample_key",
    "spatial_split",
    "auto_block_zoom",
    "within_distance_join",
    "within_distance_pairs",
    "split_leakage_report",
    "with_block_cell",
    "mixture_rates",
    "sample_mixture",
    "pack_shards",
    "grouped_rank",
    "aspect_bucket_batches",
    "shard_manifest",
    "pack_sequences",
    "sequence_manifest",
    "contamination_hits",
    "decontaminate",
    "heavy_hitters",
    "mg_candidates",
    "skew_profile",
    "profile_table",
    "duplicate_spans",
    "scrub_spans",
    # text analysis
    "with_token_counts",
    "with_quality_score",
    "with_lang_id",
    "with_fingerprint",
    "with_repetition_signals",
    "with_clean_text",
    "with_pii_scrubbed",
    # temporal / range joins
    "asof_join",
    "range_join",
    "interval_join",
    # focal raster
    "focal_box_stats",
    # dissolve / change / spatial statistics
    "adjacency_edges",
    "dissolve_tiles",
    "tile_diff",
    "change_summary",
    "mean_ssim",
    "spatial_lag",
    "morans_i",
    "local_morans",
    "getis_ord_gi",
    "grid_dbscan",
    "cluster_summary",
    "points_in_polygons",
    "haversine_m",
    "with_legs",
    "track_stats",
    "stay_points",
    "track_similarity_join",
    "track_candidate_pairs",
    "track_point_arrays",
    "bin_points",
    "render_binned",
    "render_density_tiles",
    "interpolate_idw_tiles",
    "empirical_variogram",
    "fit_variogram",
    "krige_tiles",
    "variogram_gamma",
    "extract_contours",
    "link_contours",
    "assemble_contours",
    "simplify_contours",
    "contour_lonlat",
    "contours_geojson",
    "contours_to_mvt",
    "polygons_to_mvt",
    # sketches
    "hll_registers",
    "hll_summary",
    "hll_distinct",
    "hll_merge",
    "kmv_sketch",
    "kmv_estimate",
    "kmv_merge",
    "kmv_set_estimates",
    "cms_sketch",
    "cms_merge",
    "cms_estimate",
    "cms_inner_product",
    "join_size_estimate",
    # convex hull aggregate
    "convex_hull",
    "monotone_chain",
    # snap-to-line + HMM map matching
    "snap_points_to_lines",
    "match_tracks",
    "explode_segments",
    # hexagonal binning
    "with_hex_cell",
    "hexbin",
    "hex_neighbors",
    "hex_center_cols",
    "hex_hotspots",
    # cross-zoom warp
    "warp_tiles",
    "upsample_tiles",
    "resample_window",
    # URL / domain curation
    "canonicalize_url",
    "with_url_parts",
    "registered_domain",
    "domain_stats",
    "filter_blocked_domains",
    "cap_per_domain",
    # DSIR importance resampling
    "dsir_log_weights",
    "dsir_topk_sample",
    "hashed_ngram_features",
    "ngram_profile",
    # BPE tokenizer
    "train_bpe",
    "encode_bpe",
    "word_counts",
    "bpe_vocab",
    # vector overlay
    "spatial_join_polygons",
    "tile_polygon_areas",
    "areal_interpolate",
    "with_polygon_bbox",
    # multimodal
    "image_features",
    "image_quality_signals",
    "resize_images",
    "decode_summary",
    "audio_features",
    "audio_metadata",
    "video_metadata",
    "sample_frames",
    "compact_cover",
    "uncompact_cover",
    "hashed_token_features",
    "score_documents",
    "train_quality_classifier",
    "terrain_stats",
    "epoch_composite",
    "raster_trend",
    "mann_kendall",
    "emerging_hotspots",
    "polygonize",
    "polygons_lonlat",
    "polygons_geojson",
    "sieve",
    "sieve_apply",
    "sieve_labels",
    "cost_distance",
    "cost_bands",
    "isochrones",
    "channel_histograms",
    "match_histograms",
    "build_matching_lut",
    "line_of_sight",
    "geodesic_measures",
    "region_geodesic_areas",
    "flow_accumulation",
    "flow_direction",
    "stream_network",
    "zonal_from_labels",
    "sample_raster_along",
    "generalize_rings",
    "ring_pyramid",
    "rasterize_geometries",
    "rasterize_lines",
    "viewshed",
    "zonal_stats",
    "watersheds",
    "majority_filter",
    "window_mode",
    "perplexity_score",
    "train_bigram_lm",
    "bloom_anti_join",
    "bloom_build",
    "bloom_merge",
    "bloom_parameters",
    "bloom_probe",
    "cross_modal_image_pairs",
    "cross_modal_pairs",
    "audio_fingerprints",
    "audio_match_pairs",
    "video_fingerprints",
    "video_match_pairs",
    "band_math",
    "compile_band_expr",

]
